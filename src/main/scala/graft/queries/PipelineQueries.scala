package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryModule, Tables}
import graft.pipeline.{Ann, Dedup, Mixing, TextOps}

/** LLM-training-data pipeline operators as driver-checkable queries:
  * text analysis, exact + MinHash-LSH + SimHash dedup, and similarity
  * search over the `documents`/`embeddings` tables. Every dedup/ANN entry
  * is banded/bucketed — no O(n²) stage on the engine side; the DuckDB
  * oracle is allowed to brute-force because it runs at sf0.01 only.
  */
object PipelineQueries extends QueryModule {

  private val outRoot = s"${graft.Land.root}/pipeline"
  private def docs(s: SparkSession, dir: String) =
    Tables.spread(Tables.t(s, dir, "documents"))
  private def embs(s: SparkSession, dir: String) =
    Tables.spread(Tables.t(s, dir, "embeddings"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- text analysis: tokens / quality / fingerprint -----------------
    "p01_text_stats" -> ((s, dir) => {
      val d = docs(s, dir)
      val toks = TextOps.tokens(col("text"))
      d.select(
        col("doc_id"),
        TextOps.tokenCount(toks).as("n_tokens"),
        TextOps.punctCount(col("text")).as("n_punct"),
        TextOps.stopwordRatio(toks).as("stop_ratio"),
        TextOps.meanTokenLen(toks).as("mean_tok_len"),
        TextOps.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    }),

    // ---- language-ID heuristic over the corpus -------------------------
    "p02_lang_id" -> ((s, dir) => {
      val d = docs(s, dir)
      val toks = TextOps.tokens(col("text"))
      d.select(TextOps.langIdEn(toks).as("pred_lang"), col("source"))
        .groupBy("pred_lang", "source")
        .agg(count(lit(1)).as("n"))
        .orderBy("pred_lang", "source")
    }),

    // ---- Gopher-style quality gate (repetition + lexical heuristics) ---
    // Scan-local lexical metrics + two-level (doc, gram) aggregates for
    // the repetition metrics; every formula restated by the DuckDB
    // oracle. Line metrics are exercised by QualitySpec fixtures (the
    // synthetic corpus is single-line, so they gate vacuously here).
    "p24_quality_gopher" -> ((s, dir) => {
      graft.pipeline.Quality.metrics(docs(s, dir)).orderBy("doc_id")
    }),

    // ---- funnel completions ---------------------------------------------
    // greedy non-overlapping complete chains (view→click→purchase, 6h
    // span) per user, via EventStream.funnelCompletions. The oracle
    // restates the two SQL-expressible facts: whether any chain exists,
    // and the earliest completing event (greedy's first match end).
    "p25_funnel_completions" -> ((s, dir) => {
      val ev = Tables.t(s, dir, "events")
      val matches = graft.streaming.EventStream.funnelCompletions(
        ev, Seq("view", "click", "purchase"), windowMinutes = 360)
      val per = matches.groupBy(col("userId"))
        .agg(min(unix_micros(col("chainEnd"))).as("first_end_us"),
          count(lit(1)).as("n"))
      ev.select(col("user_id").as("userId")).distinct()
        .join(per, Seq("userId"), "left")
        .select(col("userId").as("user_id"),
          col("n").isNotNull.as("has_funnel"), col("first_end_us"))
        .orderBy("user_id")
    }),

    // ---- near-dup clusters: pairs → connected components ---------------
    // the step that makes a pair report actionable (one canonical doc
    // kept per cluster); Dedup.connectedComponents (union-find under its
    // local cap, else the large-star/small-star loop).
    // The oracle recomputes components from the LANDED pairs with a
    // recursive CTE, so the clustering itself is cross-engine-verified.
    "p26_dedup_clusters" -> ((s, dir) => {
      val pairs = Dedup.minhashPairs(docs(s, dir), "doc_id", "text",
        k = 64, bands = 16, threshold = 0.5)
      pairs.write.mode("overwrite").parquet(s"$outRoot/cc_pairs")
      val landed = s.read.parquet(s"$outRoot/cc_pairs")
      Dedup.connectedComponents(landed)
        .groupBy(col("lbl").as("cluster"))
        .agg(count(lit(1)).as("size"), max(col("v")).as("max_member"))
        .orderBy("cluster")
    }),

    // ---- exact dedup by normalized fingerprint -------------------------
    "p03_exact_dedup" -> ((s, dir) => {
      val groups = Dedup.exactGroups(docs(s, dir), "doc_id", "text")
      groups.agg(
        count(lit(1)).as("n_groups"),
        sum(col("n")).as("n_docs"),
        max(col("n")).as("max_group"),
        sum(when(col("n") > 1, 1L).otherwise(0L)).as("n_dup_groups"))
    }),

    // ---- MinHash-LSH near-dup pairs (banded; oracle brute-forces) ------
    "p04_minhash_dedup" -> ((s, dir) => {
      Dedup.minhashPairs(docs(s, dir), "doc_id", "text",
        k = 64, bands = 16, threshold = 0.5)
        .orderBy("i", "j")
    }),

    // ---- SimHash near-dup pairs (pigeonhole-exact banding) -------------
    "p05_simhash_dedup" -> ((s, dir) => {
      val sigs = Dedup.simhashSignatures(docs(s, dir), "doc_id", "text")
      sigs.write.mode("overwrite").parquet(s"$outRoot/simhash_sigs")
      val landed = s.read.parquet(s"$outRoot/simhash_sigs")
      Dedup.simhashPairs(landed, maxHamming = 3).orderBy("i", "j")
    }),

    // ---- exact top-k similarity search (broadcast query set) -----------
    "p06_ann_bruteforce" -> ((s, dir) => {
      val e = embs(s, dir)
      Ann.bruteForceTopK(e, e.filter(col("vec_id") < 10), k = 3)
        // surface at the 1e-6 cross-engine precision (p07's discipline);
        // the operator ranks at 1e-8 internally
        .withColumn("cos_r", round(col("cos_r"), 6))
        .orderBy("query_id", "rank")
    }),

    // ---- LSH-bucketed ANN (the 100 TB path); oracle re-derives the
    //      cosine of every reported pair from the raw embeddings, and an
    //      in-query RECALL GUARD brute-forces a 50-vector probe set
    //      (broadcast, linear in n) and errors the gate if fewer than
    //      60% of probes get a near-optimal neighbor (within 0.05 cos of
    //      exact top-1; measured 76%/80% at sf0.01/sf0.1) ----------------
    "p07_ann_lsh" -> ((s, dir) => {
      val e = embs(s, dir)
      val nn = Ann.lshTop1Auto(e, dims = 64)
      nn.write.mode("overwrite").parquet(s"$outRoot/ann_pairs")
      val landed = s.read.parquet(s"$outRoot/ann_pairs")
      graft.Gates.run {
        val nProbe = 50L
        val bf = Ann.bruteForceTopK(e, e.filter(col("vec_id") < nProbe), k = 1)
          .join(e.select(col("vec_id").as("neighbor_id"), col("embedding").as("ne")), "neighbor_id")
          .join(e.select(col("vec_id").as("query_id"), col("embedding").as("qe")), "query_id")
          .select(col("query_id").as("vec_id"),
            round(Ann.cosine(col("qe"), col("ne")), 6).as("bf_cos"))
        val nearHits = landed.filter(col("vec_id") < nProbe)
          .join(bf, "vec_id")
          .filter(col("cos_r") >= col("bf_cos") - 0.05).count()
        require(nearHits >= (0.6 * nProbe).toLong,
          s"ANN recall regression: only $nearHits/$nProbe probes got a near-optimal neighbor")
      }
      landed.orderBy("vec_id")
    }),

    // ---- LEFT-OUTER attribution (unattributed conversions): every
    //      purchase emits, null click columns when no qualifying click
    //      (a left outer interval join) ----------------------------------
    "p55_attribution_outer" -> ((s, dir) => {
      val ev = Tables.t(s, dir, "events")
      graft.streaming.EventStream.attributionOuter(
          ev.filter(col("event_type") === "purchase"),
          ev.filter(col("event_type") === "click"))
        .select(col("purchase_id"), col("user_id"),
          col("purchase_ts").cast("timestamp_ntz").as("purchase_ts"),
          col("click_id"), col("gap_s"))
        .orderBy("purchase_id", "click_id")
    }),

    // ---- SLIDING-window aggregate (overlapping windows — the trend/
    //      moving-rate shape; p08 is the tumbling counterpart): Spark's
    //      window(ts, 10m, 5m) replicates each event into both
    //      containing windows before a normal partial aggregate; the
    //      oracle unrolls the same two epoch-aligned starts ------------
    "p54_sliding_window" -> ((s, dir) => {
      graft.streaming.EventStream.slidingAgg(Tables.t(s, dir, "events"),
          width = "10 minutes", slide = "5 minutes")
        .orderBy("win_start", "event_type")
    }),

    // ---- model-based quality gate (FineWeb-Edu/DCLM shape): a linear
    //      classifier over row-local features, σ(w·x) score, threshold
    //      keep — ONE scan-local codegen'd projection; the keep gate
    //      compares the 1e-6-rounded score on both sides so libm ulp
    //      noise can never flip it --------------------------------------
    "p51_classifier_quality" -> ((s, dir) => {
      graft.pipeline.Quality.classifierScore(docs(s, dir), threshold = 0.5)
        .orderBy("doc_id")
    }),

    // ---- metadata-FILTERED ANN (the RAG shape): top-3 cosine neighbors
    //      WITHIN the query's label stratum; the filter composes into
    //      the LSH index key ((label, table, bucket) postings) instead
    //      of post-filtering an unfiltered top-k. Oracle recomputes every
    //      reported cosine AND enforces the label constraint (a cross-
    //      label neighbor drops the row → count mismatch); in-query
    //      guard requires near-optimal top-1 vs label-constrained brute
    //      force over a 50-query probe set --------------------------------
    "p50_filtered_ann" -> ((s, dir) => {
      val e = embs(s, dir)
      val q = e.filter(col("vec_id") < 100)
      Ann.filteredTopK(e, q, "label", dims = 64, k = 3)
        .write.mode("overwrite").parquet(s"$outRoot/filtered_ann")
      val landed = s.read.parquet(s"$outRoot/filtered_ann")
      graft.Gates.run {
        val nProbe = 50L
        val probe = e.filter(col("vec_id") < nProbe)
        val bf = e.select(col("vec_id").as("neighbor_id"), col("label"),
            col("embedding").as("ne"))
          .join(broadcast(probe.select(col("vec_id").as("query_id"), col("label"),
            col("embedding").as("qe"))), Seq("label"))
          .filter(col("neighbor_id") =!= col("query_id"))
          .groupBy("query_id")
          .agg(max(round(Ann.cosine(col("qe"), col("ne")), 6)).as("bf_cos"))
        val hits = landed.filter(col("rank") === 1 && col("query_id") < nProbe)
          .join(bf, "query_id")
          .filter(col("cos_r") >= col("bf_cos") - 0.05).count()
        require(hits >= (0.6 * nProbe).toLong,
          s"filtered-ANN recall regression: $hits/$nProbe probes near-optimal")
      }
      landed.orderBy("query_id", "rank")
    }),

    // ---- PQ ANN [Jégou et al. 2011]: per-subspace KMeans codebooks
    //      (landed — the oracle re-derives every code AND every ADC
    //      distance from them, full hash equality), m-byte codes, ADC
    //      top-k where each corpus vector costs m table lookups; recall
    //      guard vs exact L2 top-3 in-query --------------------------------
    "p43_pq_adc_topk" -> ((s, dir) => {
      val e = embs(s, dir)
      val cbs = Ann.pqTrain(e, dims = 64, m = 8, k = 16)
      Ann.pqCodebookDF(s, cbs).write.mode("overwrite")
        .parquet(s"$outRoot/pq_codebooks")
      val queries = e.filter(col("vec_id") < 10)
      // shortlist scales with the corpus (5%, floor 100 — test SFs are
      // byte-identical): held FIXED it silently decays recall as the
      // corpus adds ADC-confusable distractors — measured 77% recall at
      // n=2k and 50% at n=20k with shortlist=100 (the r12 sf1 gate
      // failure); at 5% the re-rank stays a skinny id join while the
      // ADC scan dominates cost either way
      val shortlist = math.max(100L, e.count() / 20).toInt
      Ann.pqTopK(Ann.pqEncode(e, cbs), e, queries, k = 3, cbs, shortlist = shortlist)
        .write.mode("overwrite").parquet(s"$outRoot/pq_topk")
      val landed = s.read.parquet(s"$outRoot/pq_topk")
      // measured recall@3 vs exact L2: 30/30 at sf0.01, 21/30 at sf0.1
      // (shortlist 100), 25/30 on a ×10 ScaleUp corpus; floor 60%
      graft.Gates.run {
        val exact3 = Ann.bruteForceTopKL2(e, queries, k = 3)
          .select("query_id", "neighbor_id")
        val nExact = exact3.count()
        val nHits = exact3.intersect(landed.select("query_id", "neighbor_id")).count()
        require(nHits >= (0.6 * nExact).toLong,
          s"PQ recall regression: $nHits/$nExact exact-L2 top-3 neighbors recovered")
      }
      landed.orderBy("query_id", "rank")
    }),

    // ---- tumbling-window event aggregation (EventStream.windowedAgg) ---
    "p08_events_window" -> ((s, dir) => {
      graft.streaming.EventStream.windowedAgg(Tables.t(s, dir, "events"))
        .orderBy("hour_start", "event_type")
    }),

    // ---- per-user sessionization (session_window: merging-window agg,
    //      one shuffle keyed by user; the oracle recomputes sessions
    //      via gaps-and-islands SQL) -------------------------------------
    "p14_sessionize" -> ((s, dir) => {
      graft.streaming.EventStream.sessionize(Tables.t(s, dir, "events"))
        .withColumn("sum_value", round(col("sum_value"), 4))
        .orderBy("user_id", "session_start")
    }),

    // ---- IVF ANN (KMeans cells + nearest-centroid probing; the oracle
    //      verifies reported-neighbor invariants: stored cosines match a
    //      recompute and ranks are cosine-ordered; full-probe == brute
    //      force is pinned in PipelineSpec) ------------------------------
    "p11_ann_ivf" -> ((s, dir) => {
      val e = embs(s, dir)
      val queries = e.filter(col("vec_id") < 10)
      val nn = Ann.ivfTopK(e, queries, k = 3, nCells = 16, nProbe = 4)
      nn.write.mode("overwrite").parquet(s"$outRoot/ivf_pairs")
      val landed = s.read.parquet(s"$outRoot/ivf_pairs")
      // recall guard + cross-engine truth: exact top-3 via broadcast
      // brute force; DuckDB recomputes BOTH counts independently, so a
      // broken Spark brute force is a hash mismatch and an IVF recall
      // collapse is an in-query error (measured recall@3: 16/30 at
      // sf0.01, 18/30 at sf0.1, 19/30 on a ×10 ScaleUp corpus; floor 40%)
      val exact3 = Ann.bruteForceTopK(e, queries, k = 3)
        .select("query_id", "neighbor_id")
      val nExact3 = exact3.count()
      val nHits3 = exact3.intersect(landed.select("query_id", "neighbor_id")).count()
      require(nHits3 >= (0.4 * nExact3).toLong,
        s"IVF recall regression: $nHits3/$nExact3 exact top-3 neighbors recovered")
      val a = e.select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      val b = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("ne"))
      val re = landed.join(a, "query_id").join(b, "neighbor_id")
        .withColumn("cr", round(Ann.cosine(col("qe"), col("ne")), 8))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy("rank")
      re.withColumn("prev_cr", lag(col("cr"), 1).over(w))
        .agg(
          count(lit(1)).as("n_rows"),
          coalesce(sum(when(col("cos_r") =!= col("cr"), 1L).otherwise(0L)), lit(0L)).as("n_cos_mismatch"),
          coalesce(sum(when(col("cr") > col("prev_cr"), 1L).otherwise(0L)), lit(0L)).as("n_rank_violations"))
        .withColumn("n_exact3", lit(nExact3))
        .withColumn("n_r3_hits", lit(nHits3))
    }),

    // ---- exact n-gram Jaccard dedup (the prefix-filtered Jaccard join
    //      over hashed 3-shingle sets: the oracle's brute-force set must
    //      match EXACTLY, unlike p04's probabilistic LSH which the oracle
    //      happens to match because planted dups are high-similarity) ----
    "p10_ngram_jaccard_dedup" -> ((s, dir) => {
      val d = docs(s, dir)
      val joined = Dedup.jaccardJoin(d, "doc_id", "text", 0.5, Dedup.ShingleSets(3))
      val out = if (!graft.Gates.enabled) joined.pairs else {
        // losslessness gate (sf1 tier: the brute-force pair oracle is
        // sf0.01-only): the exact probe truth over a broadcast id prefix
        // of the join's own docSets — linear in the corpus — must be a
        // subset of the result; a pruned true pair trips it at any scale.
        // The gate (and the persist+materialize that makes its double
        // consumption safe) lives OFF the bench path — it audits the
        // operator, it isn't the operator (the r11 bench-timeout lesson).
        val o = graft.operators.Broadcasts.trackedPersist(joined.pairs)
        o.count() // materialize before the probe (p80 discipline)
        val truth = Dedup.jaccardProbeTruth(joined.docSets, joined.docSets,
          probeMaxId = 150, threshold = 0.5).filter(col("i") < col("j"))
        val missed = truth.join(o.select("i", "j"), Seq("i", "j"),
          "left_anti").count()
        require(missed == 0L,
          s"prefix Jaccard join dropped $missed probe-prefix true pair(s)")
        o
      }
      out.orderBy("i", "j")
    }),

    // ---- winnowing-fingerprint near-dup (rolling-hash candidates,
    //      exact-Jaccard verify; oracle = brute-force pair set) ----------
    "p13_winnowing_dedup" -> ((s, dir) => {
      Dedup.winnowingPairs(docs(s, dir), "doc_id", "text", threshold = 0.5)
        .orderBy("i", "j")
    }),

    // ---- as-of join: most recent click before each purchase, per user
    //      (union + one window pass keyed by user — no join node, no
    //      broadcast cap; DuckDB's native ASOF JOIN is the oracle). The
    //      right side is pre-aggregated per (user, ts) so tie-breaking is
    //      engine-independent -----------------------------------------
    "p15_asof_join" -> ((s, dir) => {
      val ev = Tables.t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy("user_id", "ts").agg(max("event_id").as("click_id"))
      graft.operators.AsofJoin.backward(purchases, clicks,
        keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
        payload = Seq("ts", "click_id"), prefix = "c_")
        .withColumn("gap_us", unix_micros(col("ts")) - unix_micros(col("c_ts")))
        .select(col("event_id"), col("user_id"),
          col("ts").cast("timestamp_ntz").as("ts"),
          col("c_click_id").as("click_id"), col("gap_us"))
        .orderBy("event_id")
    }),

    // ---- time-series gap fill (resample + forward fill): per-user
    //      hourly grid over each user's own [first, last] span — rows
    //      EXIST for hours with no events, carrying the last observed
    //      value forward. Bucket arg-max is (ts, event_id)-deterministic
    //      so cross-engine merge order cannot pick a different row; the
    //      fill is ONE per-key window. Restricted to user_id < 30 to
    //      bound the grid the oracle re-derives (~21k rows) -------------
    "p60_gap_fill" -> ((s, dir) => {
      val ev = Tables.t(s, dir, "events").filter(col("user_id") < 30)
      graft.operators.GapFill.forwardFillGrid(ev,
          keyCol = "user_id", tsCol = "ts", valCol = "value",
          tieCol = "event_id")
        .select(col("user_id"),
          col("bucket_ts").cast("timestamp_ntz").as("bucket_ts"),
          round(col("value_ff"), 6).as("value_ff"), col("had_event"))
        .orderBy("user_id", "bucket_ts")
    }),

    // ---- bitext mining (CCMatrix-style margin scoring): best cross-set
    //      neighbor normalized by both sides' top-k neighborhoods, so
    //      hub vectors can't pass on raw cosine alone. Ships the AUTO
    //      dispatcher (the p09 convention): exact |A|·|B| scoring while
    //      it fits the work bound — every graded scale, so the oracle is
    //      the exact form — and the cross-side LSH postings past it ----
    "p65_bitext_margin" -> ((s, dir) => {
      val e = embs(s, dir)
      Ann.bitextMarginAuto(e.filter(col("label") === 0),
          e.filter(col("label") === 1), dims = 64)
        .orderBy("a_id")
    }),

    // ---- HTML → text extraction (the ingest step BEFORE the C4 line
    //      rules on a web crawl): script/style/comment drop, tag strip,
    //      fixed-order entity decode (&amp; last), whitespace collapse —
    //      every step RE2-portable, so DuckDB replays the identical
    //      chain over the same synthesized page and the extracted texts
    //      hash-match byte-for-byte ------------------------------------
    "p94_html_extract" -> ((s, dir) => {
      val html = concat(
        lit("<html><head><title>t</title><style>p{color:red}</style>" +
          "<script type=\"text/javascript\">var x=1;</script></head>" +
          "<body><!-- nav --><p class=\"main\">"),
        col("text"),
        lit("</p><div>Tom &amp; Jerry &lt;3 &quot;quoted&#39;" +
          "&nbsp;end</div></body></html>"))
      docs(s, dir)
        .select(col("doc_id"), graft.pipeline.Clean.htmlToText(html).as("t"))
        .select(col("doc_id"), length(col("t")).cast("long").as("n_chars"),
          md5(col("t")).as("fp"))
        .orderBy("doc_id")
    }),

    // ---- URL canonicalization + frontier dedup (p66 profiles domains;
    //      this is the step BEFORE it): five deterministic variants per
    //      doc — case noise, default ports, www, tracking params,
    //      unsorted params, fragments, plus a scheme-less passthrough —
    //      collapse under canonicalization; the oracle re-canonicalizes
    //      with the identical RE2/list chain and must count the same
    //      collapsed groups ---------------------------------------------
    "p95_url_canonicalize" -> ((s, dir) => {
      val d = docs(s, dir)
      val b = (col("doc_id") % 7).cast("string")
      val pg = floor(col("doc_id") / lit(5)).cast("string")
      val v = col("doc_id") % 5
      val url = when(v === 0, concat(lit("HTTP://WWW.Site"), b,
          lit(".COM:80/p/"), pg, lit("?utm_source=x&b=2&a=1#frag")))
        .when(v === 1, concat(lit("http://site"), b, lit(".com/p/"), pg,
          lit("?a=1&b=2")))
        .when(v === 2, concat(lit("https://Site"), b, lit(".com:443/p/"),
          pg, lit("?b=2&a=1&ref=tw")))
        .when(v === 3, concat(lit("https://site"), b, lit(".com/p/"), pg))
        .otherwise(concat(lit("site"), b, lit(".com/p/"), pg))
      d.select(graft.pipeline.Clean.canonicalizeUrl(url).as("url_canon"))
        .groupBy("url_canon").agg(count(lit(1)).as("n"))
        .orderBy("url_canon")
    }),

    // ---- compressibility quality signal (the catch-all boilerplate/
    //      noise detector beside p24's exact repetition metrics), TWO
    //      faces over one scan:
    //      * production signal: codegen'd zlib deflate ratio (no SQL
    //        face anywhere — CompressSpec carries determinism + ordinal
    //        laws + codegen==eval);
    //      * oracle face: repeated 8-gram mass 1 − distinct/total, the
    //        LZ-match-mass proxy deflate exploits — EXACT and restatable
    //        as count(DISTINCT substr(...)), so DuckDB value-checks this
    //        entry end to end.
    //      The two are bridged IN-QUERY: per-doc Pearson corr(ratio,
    //      mass) must be strictly negative on the corpus (repetitive
    //      text compresses better AND carries more repeated grams), and
    //      the doubled-text ordinal probe pins the zlib kernel itself —
    //      so a broken production signal fails the green entry even
    //      though only the portable face is hashed. Per-lang sums are
    //      exact BIGINTs (order-independent), divisions are single IEEE
    //      ops — deterministic across engines -------------------------
    "p93_compress_quality" -> ((s, dir) => {
      graft.functions.CompressRatioExpr.register(s)
      val d = docs(s, dir)
      // persisted: the corr bridge and the returned rollup are separate
      // actions — unpersisted, the zlib + gram kernels would run over
      // every doc twice
      val per = graft.operators.Broadcasts.trackedPersist(
        d.select(col("lang"), col("doc_id"),
          expr("graft_deflate_ratio(text)").as("ratio"),
          expr("graft_distinct_kgrams(text, 8)").as("uniq"),
          greatest(length(col("text")) - lit(7), lit(0)).cast("long").as("total"))
        .withColumn("mass", when(col("total") === 0L, lit(0.0))
          .otherwise(lit(1.0) - col("uniq").cast("double") / col("total").cast("double"))))
      // bridge 1: the zlib production signal must agree directionally
      // with the oracle-checked gram face across the corpus. corr() is
      // NULL on a degenerate corpus (zero variance or <2 rows) — the
      // 0.0 sentinel routes that through the require's diagnostic
      // instead of an NPE in getDouble (the p105 probe convention).
      graft.Gates.run {
        val c = per.agg(coalesce(corr(col("ratio"), col("mass")), lit(0.0)))
          .head().getDouble(0)
        require(c < 0.0,
          f"deflate ratio must anti-correlate with repeated-gram mass, got corr=$c%.4f")
        // bridge 2 (ordinal, on ONE deterministic row — longest text,
        // id tie-break): a doc's text doubled must compress strictly
        // better (relatively) than the doc alone; an arbitrary limit(1)
        // row could be degenerate, where the ~11-byte deflate header
        // makes the law fail spuriously
        val probe = d.orderBy(length(col("text")).desc, col("doc_id")).limit(1).select(
          expr("graft_deflate_ratio(text)").as("r1"),
          expr("graft_deflate_ratio(concat(text, ' ', text))").as("r2"))
          .head()
        require(probe.getDouble(1) < probe.getDouble(0),
          "doubled text must compress relatively better than the original")
      }
      per.groupBy("lang").agg(
        count(lit(1)).as("n"),
        sum(col("uniq")).as("uniq_grams"),
        sum(col("total")).as("total_grams"),
        round(lit(1.0) - sum(col("uniq")).cast("double") /
          sum(col("total")).cast("double"), 6).as("corpus_mass"),
        round(max(col("mass")), 6).as("max_doc_mass"))
        .orderBy("lang")
    }),

    // ---- hard-negative triplet mining (contrastive-training data prep):
    //      per anchor, best same-label positive + best different-label
    //      negative by exact cosine; `violation` = margin not yet
    //      separating the pair. Bounded anchor batch broadcasts; the
    //      corpus-sweep swap is the LSH-postings seam (see p89) --------
    "p92_hard_negatives" -> ((s, dir) => {
      val e = embs(s, dir)
      Ann.hardNegatives(e, e.filter(col("vec_id") < 10), "label")
        .orderBy("anchor_id")
    }),

    // ---- embedding-distribution drift between two corpus snapshots
    //      (vec_id parity = the deterministic snapshot stand-in): per
    //      label, centroid cosine / mean-shift L2 / norm ratio — the
    //      vector-space complement of p82's scalar KS test. One scan,
    //      state bounded by labels x dims; no dense vector collected.
    //      The oracle replays the identical per-dim mean algebra -------
    "p98_embedding_drift" -> ((s, dir) =>
      Ann.embeddingDrift(embs(s, dir), "label", col("vec_id") % 2)
        .orderBy("label")),

    // ---- ZCA whitening of the embedding space (Su et al. 2021): one
    //      corpus scan aggregates ALL first+second moments (state
    //      bounded by dims²), driver-side 64×64 eigendecomposition,
    //      literal-array codegen apply — no shuffle ever carries a
    //      vector. Landed to parquet; the RESULT is the post-whiten
    //      covariance of the landed artifact (upper triangle), which
    //      must be the identity — the in-query require() proves
    //      whiteness, and the DuckDB oracle recomputes the identical
    //      covariance from the same parquet bytes, so a broken apply
    //      pass cannot validate itself ---------------------------------
    "p99_embedding_whiten" -> ((s, dir) => {
      val e = embs(s, dir)
      Ann.whiten(e).write.mode("overwrite").parquet(s"$outRoot/whitened")
      val landed = s.read.parquet(s"$outRoot/whitened")
      // dims²-bounded whiteness proof over the LANDED artifact, via the
      // same one-pass [1, x, upper-tri xᵢxⱼ] moment aggregate whiten
      // itself uses — the posexplode self-join this replaced fanned each
      // vector out ×d² before grouping (≈1.3·10⁸ intermediate rows at
      // the ×10 probe scale); here the scan stays one row per vector
      // with one double[1+d+d(d+1)/2] of aggregate state per partition
      graft.functions.VecSumAgg.register(s)
      graft.functions.VectorExprs.register(s)
      val d = landed.agg(max(size(col("white")))).head().getInt(0)
      val sums = landed
        .select(call_function("graft_moments", col("white")).as("m"))
        .agg(expr("graft_vec_sum(m)")).head().getSeq[Double](0)
      val n = sums(0)
      def ui(i: Int, j: Int) = 1 + d + (i * (2 * d - i - 1)) / 2 + j
      // Spark-round semantics (HALF_UP) + the `+ 0.0` negative-zero fold
      // the old in-engine round applied — DuckDB's round keeps the sign
      // on a tiny negative mean product, and the driver hashes the
      // canonical STRING ("-0.0" ≠ "0.0")
      def r6(x: Double): Double = BigDecimal(x)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0d
      val cells = for (i <- 0 until d; j <- i until d) yield {
        val cov = r6(sums(ui(i, j)) / n - (sums(1 + i) / n) * (sums(1 + j) / n))
        require(if (i == j) math.abs(cov - 1.0d) <= 0.02d
          else math.abs(cov) <= 0.02d,
          s"whitening broke: covariance cell ($i,$j)=$cov off identity")
        org.apache.spark.sql.Row(i, j, cov)
      }
      import scala.jdk.CollectionConverters._
      s.createDataFrame(cells.asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("i", org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("j", org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("cov", org.apache.spark.sql.types.DoubleType))))
        .orderBy("i", "j")
    }),

    // ---- user-level ε-DP count release (Laplace mechanism, bounded
    //      contribution): per-user-per-category counts capped at 8 (L∞)
    //      AND per-user distinct categories capped at 4 (L0 — top-4 by
    //      capped count, deterministic tie-break), so removing one user
    //      moves the released vector ≤ cap·maxCats in L1; then
    //      DETERMINISTIC Laplace(cap·maxCats/ε) noise from the salted
    //      md5 unit hash via inverse CDF (log arg clamped at 2^-31) — no
    //      rand(), so task retries cannot change the release and the
    //      oracle replays the exact released values --------------------
    "p100_dp_release" -> ((s, dir) =>
      // the PUBLIC domain makes the output support data-independent —
      // without it a single-contributor category's row presence leaks
      // that user's participation, which no count noise hides
      graft.pipeline.Privacy.dpCountRelease(Tables.t(s, dir, "events"),
        "user_id", "event_type", epsilon = 1.0, cap = 8, maxCats = 4,
        salt = "dp-r8",
        domain = Some(Seq("click", "error", "purchase", "signup", "view")))
        .orderBy("category")),

    // ---- INDEXED bitext mining (p65's corpus-scale path as CODE, not
    //      prose): candidates from cross-side hyperplane-LSH postings,
    //      margin arithmetic shared with the exact form. Landed to
    //      parquet; the in-query require() is the recall floor vs the
    //      exact form (accepted pairs recovered), and the oracle-checked
    //      output re-verifies stored cosines AND recomputes the exact
    //      accepted set + hit count independently in DuckDB, so a broken
    //      Spark exact form cannot silently validate the index ---------
    "p89_bitext_indexed" -> ((s, dir) => {
      val e = embs(s, dir)
      val sideA = e.filter(col("label") === 0)
      val sideB = e.filter(col("label") === 1)
      Ann.bitextMarginIndexed(sideA, sideB, dims = 64)
        .write.mode("overwrite").parquet(s"$outRoot/bitext_idx")
      val landed = s.read.parquet(s"$outRoot/bitext_idx")
      // NOT gate-wrapped: nExact/nHits are ORACLE-CONTRACT output columns
      // (DuckDB recomputes both independently), so the exact form is part
      // of the query, not just its audit
      val exactAcc = Ann.bitextMargin(sideA, sideB)
        .filter(col("accepted")).select("a_id", "b_id")
      val nExact = exactAcc.count()
      val nHits = exactAcc.intersect(
        landed.filter(col("accepted")).select("a_id", "b_id")).count()
      // measured accepted-pair recall: 22/25 (88%) at sf0.01; the sf0.1
      // run clears the same floor (planes=4 x tables=16 on 64 dims)
      require(nHits >= (0.6 * nExact).toLong,
        s"indexed bitext recall regression: $nHits/$nExact exact-form " +
          "accepted pairs recovered")
      val av = e.select(col("vec_id").as("a_id"), col("embedding").as("ae"))
      val bv = e.select(col("vec_id").as("b_id"), col("embedding").as("be"))
      landed.join(av, "a_id").join(bv, "b_id")
        .withColumn("cr", round(Ann.cosine(col("ae"), col("be")), 8))
        .agg(count(lit(1)).as("n_pairs"),
          coalesce(sum(when(col("cos_r") =!= col("cr"), 1L).otherwise(0L)),
            lit(0L)).as("n_cos_mismatch"),
          coalesce(sum(when(col("accepted"), 1L).otherwise(0L)), lit(0L))
            .as("n_accepted"))
        .withColumn("n_exact_accepted", lit(nExact))
        .withColumn("n_accept_hits", lit(nHits))
    }),

    // ---- split-leakage audit: near-dup pairs that CROSS the train/val/
    //      test boundary — the QA gate run after any split, because a
    //      random split of a corpus with near-dups leaks eval into train
    //      no matter how good the split hash is. Composes the banded
    //      minhash pair generator with the split assignment (skinny
    //      (id, split) joins onto the pair set); the oracle brute-forces
    //      exact Jaccard AND recomputes the split from the same md5 ----
    "p64_split_leakage" -> ((s, dir) => {
      val d = docs(s, dir)
      val split = d.select(col("doc_id"),
        Mixing.splitAssign(Mixing.hashUnit(col("doc_id"), "graft-split")).as("split"))
      Dedup.minhashPairs(d, "doc_id", "text", k = 64, bands = 16, threshold = 0.5)
        .join(split.select(col("doc_id").as("i"), col("split").as("split_i")), "i")
        .join(split.select(col("doc_id").as("j"), col("split").as("split_j")), "j")
        .filter(col("split_i") =!= col("split_j"))
        .select(col("i"), col("j"), col("split_i"), col("split_j"), col("jaccard"))
        .orderBy("i", "j")
    }),

    // ---- interval-OVERLAP join (co-presence analytics): per-(user,day)
    //      activity intervals self-joined for overlapping user pairs.
    //      Both sides bucketize; a pair meeting in several buckets is
    //      emitted only from the bucket of max(start, start) — exactly
    //      once by construction, no distinct over the pair set. Overlap
    //      mass sums exact integer microseconds DIV'd to seconds -------
    "p63_interval_overlap" -> ((s, dir) => {
      val ev = Tables.t(s, dir, "events")
      val iv = ev.groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .agg(min(col("ts")).as("s"), max(col("ts")).as("e"))
      val a = iv.select(col("day"), col("user_id").as("u1"),
        col("s").as("s1"), col("e").as("e1"))
      val b = iv.select(col("day"), col("user_id").as("u2"),
        col("s").as("s2"), col("e").as("e2"))
      graft.operators.RangeJoin.intervalOverlap(a, b,
          "s1", "e1", "s2", "e2", keys = Seq("day"), bucketSeconds = 6 * 3600)
        .filter(col("u1") < col("u2"))
        .groupBy("day")
        .agg(count(lit(1)).as("n_pairs"),
          sum(expr("""(least(unix_micros(e1), unix_micros(e2))
                       - greatest(unix_micros(s1), unix_micros(s2))) DIV 1000000"""))
            .as("overlap_s"))
        .select(col("day").cast("date").as("day"),
          col("n_pairs"), col("overlap_s"))
        .orderBy("day")
    }),

    // ---- PII scrubbing: typed-tag redaction of emails/phones/IPv4s.
    //      The synthetic corpus carries no PII, so the query first
    //      AUGMENTS each doc with deterministic doc_id-derived PII (the
    //      identical expression runs in the oracle) — the operator under
    //      test is TextOps.piiScrub/piiCount, a codegen'd regex chain
    //      that is scan-local at any scale --------------------------------
    "p16_pii_scrub" -> ((s, dir) => {
      val d = docs(s, dir)
      val aug = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com via "),
        lit("10.0."), (col("doc_id") % 256).cast("string"),
        lit("."), (col("doc_id") % 100).cast("string"),
        lit(" tel 555-123-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
      d.select(col("doc_id"), aug.as("aug"))
        .select(col("doc_id"),
          TextOps.piiCount(col("aug"), TextOps.EmailRe).as("n_email"),
          TextOps.piiCount(col("aug"), TextOps.PhoneRe).as("n_phone"),
          TextOps.piiCount(col("aug"), TextOps.Ipv4Re).as("n_ip"),
          md5(TextOps.piiScrub(col("aug"))).as("scrub_md5"),
          length(TextOps.piiScrub(col("aug"))).cast("long").as("scrub_len"))
        .orderBy("doc_id")
    }),

    // ---- int8 embedding quantization: per-vector symmetric scale
    //      (max|x|/127), quality measured as cosine + MAE of the
    //      quantize→dequantize round trip — fused compiled kernels, no
    //      materialized int8 array. The 100 TB point: 4× smaller vectors
    //      through every ANN shuffle for ~1e-5 cosine loss (measured
    //      below); DuckDB recomputes the identical arithmetic ------------
    "p17_embedding_quantize" -> ((s, dir) => {
      graft.functions.VectorExprs.register(s)
      val e = embs(s, dir)
      val scale = call_function("graft_int8_scale", col("embedding"))
      e.select(col("vec_id"), col("label").cast("long").as("label"),
          round(call_function("graft_int8_cosq", col("embedding"), scale), 6).as("cos_q"),
          round(call_function("graft_int8_maeq", col("embedding"), scale), 9).as("mae_q"),
          round(scale * 127.0, 6).as("max_abs"))
        .orderBy("vec_id")
    }),

    // ---- reproducible splits + stratified source mixing: everything a
    //      deterministic function of md5(salt:doc_id), no rand() — the
    //      split survives retries/repartitioning and ANY engine can
    //      re-derive who was sampled (the oracle does exactly that) ------
    "p18_split_sample" -> ((s, dir) => {
      val d = docs(s, dir)
      val srcNum = regexp_extract(col("source"), "(\\d+)", 1).cast("int")
      val rate = element_at(
        array(lit(1.0), lit(0.75), lit(0.5), lit(0.25)), srcNum % 4 + 1)
      d.select(col("doc_id"), col("source"),
          Mixing.hashUnit(col("doc_id"), "graft-split").as("u"),
          Mixing.hashUnit(col("doc_id"), "graft-mix").as("um"),
          rate.as("rate"))
        .withColumn("split", Mixing.splitAssign(col("u")))
        .withColumn("kept", Mixing.stratifiedKeep(col("um"), col("rate")))
        .groupBy("source", "split")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("kept"), col("doc_id")).otherwise(0L)).as("kept_id_sum"))
        .orderBy("source", "split")
    }),

    // ---- token-budget sequence packing: one window pass per source,
    //      docs cut into 512-token training sequences by start offset ----
    "p19_token_packing" -> ((s, dir) => {
      val d = docs(s, dir)
      val base = d.select(col("source"), col("doc_id"),
        size(TextOps.bpeTokens(col("text"))).cast("long").as("toks"))
      Mixing.packBins(base, "source", "doc_id", "toks", budget = 512)
        .groupBy("source", "bin")
        .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("bin_tokens"))
        .orderBy("source", "bin")
    }),

    // ---- decontamination: eval-probe docs (doc_id % 20 == 7 stands in
    //      for a benchmark suite) found inside the remaining training
    //      corpus by shingle containment |T∩E|/|E| — probe side
    //      broadcast, candidates only from the shared-shingle inverted
    //      index; the oracle brute-forces the same containment ----------
    "p20_decontaminate" -> ((s, dir) => {
      val d = docs(s, dir)
      val probe = d.filter(col("doc_id") % 20 === 7)
      val train = d.filter(col("doc_id") % 20 =!= 7)
      val raw = Dedup.contaminationPairs(train, probe, "doc_id", "text",
          threshold = 0.5)
        .withColumn("overlap", round(col("overlap"), 6))
      val out = if (!graft.Gates.enabled) raw else {
        val o = graft.operators.Broadcasts.trackedPersist(raw)
        o.count() // materialize before the probe (p80 discipline)
        // dfCap losslessness gate (sf1 tier): EXACT containment (dfCap=0)
        // against a broadcast probe PREFIX must be a subset of the dfCap'd
        // result — a capped-away contaminated pair trips it at any scale
        val truth = Dedup.contaminationPairs(train,
            probe.filter(col("doc_id") < 300), "doc_id", "text",
            threshold = 0.5, dfCap = 0)
          .select("train_id", "eval_id")
        val missed = truth.join(o.select("train_id", "eval_id"),
          Seq("train_id", "eval_id"), "left_anti").count()
        require(missed == 0L,
          s"contaminationPairs dfCap dropped $missed probe-prefix pair(s)")
        o
      }
      out.orderBy("train_id", "eval_id")
    }),

    // ---- REAL audio decode on the verified path: deterministic WAV
    //      payloads synthesized per doc_id (16-bit PCM sine, parameters =
    //      id arithmetic), decoded through the JDK's actual WAV reader in
    //      the batched mapPartitions pipeline. DuckDB re-derives every
    //      FORMAT fact analytically; the signal side (rms ≈ amp/√2) is an
    //      in-query guard, so a broken decoder fails the gate either way -
    "p21_audio_decode" -> ((s, dir) => {
      import s.implicits._
      import graft.pipeline.Multimodal
      val media = docs(s, dir).select(col("doc_id")).filter(col("doc_id") < 50)
        .as[Long].map(id => (id, Multimodal.synthWav(id))).toDF("id", "b")
      val feats = Multimodal.audioFeatures(s,
        Multimodal.asMedia(media, "id", "b", "audio"))
      val expRms = (lit(0.25) + (col("media_id") % 3) * 0.05) / math.sqrt(2.0)
      val bad = feats.filter(!col("decoded")
        || abs(col("rms") - expRms) > 0.02
        || abs(col("duration_s") * col("sample_rate") - col("n_frames")) > 0.5)
        .count()
      require(bad == 0, s"audio decode regression: $bad bad rows")
      feats.select(col("media_id"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("channels").cast("long").as("channels"),
          col("n_frames"),
          round(col("duration_s"), 6).as("duration_s"))
        .orderBy("media_id")
    }),

    // ---- range join: every event inside the 10-minute window after
    //      each of the 20 highest-value error events ("incidents") —
    //      bucketized to an equi-join on the time bucket (no cartesian,
    //      no broadcast requirement); DuckDB runs the plain inequality
    //      join as the oracle ------------------------------------------
    "p22_range_join" -> ((s, dir) => {
      val ev = Tables.t(s, dir, "events")
      val incidents = ev.filter(col("event_type") === "error")
        .orderBy(col("value").desc, col("event_id")).limit(20)
        .select(col("event_id").as("incident_id"), col("ts").as("start_ts"),
          expr("ts + INTERVAL 10 MINUTES").as("end_ts"))
      val joined = graft.operators.RangeJoin.pointInInterval(
        ev.select("event_id", "ts", "user_id", "value"),
        incidents, "ts", "start_ts", "end_ts")
      joined.groupBy("incident_id")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          round(sum(col("value")), 4).as("sum_value"))
        .orderBy("incident_id")
    }),

    // ---- click→purchase attribution: same-user (purchase, click) pairs
    //      with the click in the 30 min before the purchase (user
    //      equi-join + time-range predicate), value-verified against
    //      DuckDB's inequality join --------------------------------------
    "p23_attribution" -> ((s, dir) => {
      val ev = Tables.t(s, dir, "events")
      graft.streaming.EventStream.attribution(
        ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "click"))
        .select(col("purchase_id"), col("user_id"),
          col("purchase_ts").cast("timestamp_ntz").as("purchase_ts"),
          col("click_id"), col("gap_s"))
        .orderBy("purchase_id", "click_id")
    }),

    // ---- m01: REAL image decode (JDK codecs) on the verified path.
    //      Deterministic PNGs (8×8 uniform-cell grids from an id-derived
    //      63-bit pattern) go through the actual ImageIO decode +
    //      bilinear-resize + aHash pipeline; an in-query guard pins the
    //      decoded aHash bit-for-bit to the analytic pattern (a broken
    //      decoder/resizer fails the gate), then the banded Hamming
    //      near-dup pairs are value-verified by DuckDB from the LANDED
    //      signatures — the p05 pattern -------------------------------
    "m01_image_neardup" -> ((s, dir) => {
      import s.implicits._
      import graft.pipeline.Multimodal
      // persisted: the typed map is OPAQUE to column pruning, so the
      // second consumer (the expected-hash join) would re-synthesize
      // every PNG just to read (id, expected)
      val media = graft.operators.Broadcasts.trackedPersist(
        docs(s, dir).select(col("doc_id")).filter(col("doc_id") < 200)
          .as[Long]
          .map(id => (id, Multimodal.synthPng(id), Multimodal.imagePattern(id)))
          .toDF("id", "png", "expected"))
      val feats = Multimodal.imageFeatures(s,
        Multimodal.asMedia(media, "id", "png", "image"))
      val checked = feats.join(
        media.select(col("id").as("media_id"), col("expected")), "media_id")
      val bad = checked.filter(!col("decoded") || col("width") =!= 64 ||
        col("height") =!= 64 || col("ahash") =!= col("expected")).count()
      require(bad == 0, s"image decode regression: $bad bad rows")
      val sigs = checked.select(col("media_id").as("id"), col("ahash").as("sig"))
      sigs.write.mode("overwrite").parquet(s"$outRoot/image_sigs")
      val landed = s.read.parquet(s"$outRoot/image_sigs")
      Dedup.simhashPairs(landed, maxHamming = 3).orderBy("i", "j")
    }),

    // ---- m03: CROSS-MODAL dedup — the multimodal curation step where
    //      neither modality alone suffices: near-dup IMAGE pairs (real
    //      decode → ahash → pigeonhole-banded Hamming) and near-dup TEXT
    //      pairs (MinHash-LSH) union into one edge set, connected
    //      components merge them (an image twin and a text twin of the
    //      same doc land in ONE cluster), and the output is the
    //      per-cluster account with per-modality edge counts. Edges land
    //      first so the DuckDB oracle re-derives the clustering itself
    //      (recursive CTE) from the same bytes -------------------------
    "m03_crossmodal_dedup" -> ((s, dir) => {
      import s.implicits._
      import graft.pipeline.Multimodal
      val media = docs(s, dir).select(col("doc_id")).filter(col("doc_id") < 200)
        .as[Long].map(id => (id, Multimodal.synthPng(id))).toDF("id", "png")
      val feats = Multimodal.imageFeatures(s,
        Multimodal.asMedia(media, "id", "png", "image"))
      val sigs = feats.filter(col("decoded"))
        .select(col("media_id").as("id"), col("ahash").as("sig"))
      val imgPairs = Dedup.simhashPairs(sigs, maxHamming = 3)
        .select(col("i"), col("j"), lit("img").as("modality"))
      val txtPairs = Dedup.minhashPairs(
          docs(s, dir).filter(col("doc_id") < 200), "doc_id", "text",
          threshold = 0.5)
        .select(col("i"), col("j"), lit("txt").as("modality"))
      val edges = imgPairs.unionByName(txtPairs)
        .groupBy("i", "j").agg(
          max(when(col("modality") === "img", 1L).otherwise(0L)).as("is_img"),
          max(when(col("modality") === "txt", 1L).otherwise(0L)).as("is_txt"))
      edges.write.mode("overwrite").parquet(s"$outRoot/xmodal_edges")
      val landed = s.read.parquet(s"$outRoot/xmodal_edges")
      val labels = Dedup.connectedComponents(
        landed.select("i", "j"))
      val sizes = labels.groupBy(col("lbl").as("cluster"))
        .agg(count(lit(1)).as("size"), max(col("v")).as("max_member"))
      val em = landed
        .join(labels.select(col("v").as("i"), col("lbl").as("cluster")), "i")
        .groupBy("cluster").agg(count(lit(1)).as("n_edges"),
          sum(col("is_img")).as("n_img_edges"),
          sum(col("is_txt")).as("n_txt_edges"))
      sizes.join(em, "cluster").orderBy("cluster")
    }),

    // ---- m02: REAL video-container parse (Y4M/YUV4MPEG2 — the
    //      uncompressed interchange format, pure text header + planar
    //      frames, no codec needed): the engine parses each payload's
    //      magic/geometry/colorspace, walks the FRAME markers, slices
    //      every 3rd frame's LUMA plane out of the 4:2:0 layout, and the
    //      oracle recomputes each sampled frame's mean luma from the id
    //      arithmetic the synthesizer wrote into the planes ------------
    "m02_video_frames" -> ((s, dir) => {
      import s.implicits._
      import graft.pipeline.Multimodal
      val media = docs(s, dir).select(col("doc_id")).filter(col("doc_id") < 100)
        .as[Long]
        .map(id => (id, Multimodal.synthY4M(id)))
        .toDF("id", "video")
      Multimodal.y4mFrameSamples(s,
          Multimodal.asMedia(media, "id", "video", "video"), stride = 3)
        .select(col("media_id"), col("n_frames"), col("frame_idx"),
          round(col("mean_byte"), 4).as("mean_byte"))
        .orderBy("media_id", "frame_idx")
    }),

    // ---- deterministic EPOCH SHUFFLE (curation's final step): per-epoch
    //      hash-permutation order (md5 unit hash of (id, epoch) — engine-
    //      portable, retry-invariant), shard = floor(k·S) ≡ range
    //      partitioning on the sort key, landed partitionBy(epoch, shard)
    //      with a partition-local sort — ONE exchange, the terasort
    //      shape. In-query proofs: cross-epoch rank correlation ≈ 0 and
    //      within-shard adjacent-id gap ≈ n/3 (a sorted-by-id "shuffle"
    //      would score 1); the oracle replays the identical permutation
    //      from the same md5 arithmetic -----------------------------
    "p103_epoch_shuffle" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val root = s"${graft.Land.root}/pipeline/epoch_shuffle"
      val d = docs(s, dir).select(col("doc_id"))
      val sh = graft.pipeline.Mixing.epochShuffle(d, "doc_id",
        epochs = 2, shards = 8)
      sh.repartition(col("epoch"), col("shard"))
        .sortWithinPartitions(col("k"), col("doc_id"))
        .write.mode("overwrite").partitionBy("epoch", "shard").parquet(root)
      val rb = s.read.parquet(root)
      val w = Window.partitionBy("epoch", "shard").orderBy("k", "doc_id")
      val gapped = rb.withColumn("gap",
        abs(col("doc_id") - lag(col("doc_id"), 1).over(w)))
      graft.Gates.run {
        // cross-epoch decorrelation: the two permutations share nothing
        val kw = rb.groupBy("doc_id").agg(
          max(when(col("epoch") === 0, col("k"))).as("k0"),
          max(when(col("epoch") === 1, col("k"))).as("k1"))
        val rho = kw.agg(corr(col("k0"), col("k1"))).head().getDouble(0)
        require(math.abs(rho) < 0.05,
          f"epoch permutations correlate: rho=$rho%.4f")
        // within-epoch decorrelation: adjacent ids in shuffle order are
        // ~uniform draws, so the mean |gap| must be a large fraction of n
        val nDocs = d.count()
        gapped.groupBy("epoch").agg(avg(col("gap")).as("g")).collect()
          .foreach(r => require(r.getDouble(1) > 0.2 * nDocs,
            s"epoch ${r.get(0)} under-shuffled: mean gap ${r.getDouble(1)}"))
      }
      gapped
        .groupBy(col("epoch").cast("long").as("epoch"),
          col("shard").cast("long").as("shard"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("gap")), 4).as("mean_gap"),
          round(min(col("k")), 6).as("k_lo"),
          round(max(col("k")), 6).as("k_hi"))
        .orderBy("epoch", "shard")
    }),

    // ---- MJPEG-in-AVI frame sampling over a REAL RIFF walk + REAL JDK
    //      JPEG decode (the compressed-video path): each frame is a
    //      uniform-gray baseline JPEG, and uniform grays round-trip the
    //      JDK codec exactly (DC-only blocks, MultimodalSpec pins all
    //      256 values), so the oracle recomputes every sampled frame's
    //      mean luma analytically while the engine genuinely parses the
    //      container and decodes the JPEG bytes ----------------------
    "m05_avi_mjpeg_frames" -> ((s, dir) => {
      import s.implicits._
      import graft.pipeline.Multimodal
      val media = docs(s, dir).select(col("doc_id")).filter(col("doc_id") < 60)
        .as[Long]
        .map(id => (id, Multimodal.synthAviMjpeg(id)))
        .toDF("id", "video")
      Multimodal.aviFrameSamples(s,
          Multimodal.asMedia(media, "id", "video", "video"), stride = 2)
        .select(col("media_id"), col("n_frames"), col("frame_idx"),
          round(col("mean_byte"), 4).as("mean_byte"))
        .orderBy("media_id", "frame_idx")
    }),

    // ---- MPEG-1 I/P-frame decode through the codec registry: the
    //      ENGINE walks start codes, macroblock/DC/run-level VLCs, IDCT,
    //      forward motion compensation, skipped-MB copy and residual
    //      accumulation (pipeline/Mpeg1.scala — hand-rolled from the
    //      public spec, no JVM codec exists); the fixture's flat DC-only
    //      content makes every reconstruction step exact, so the oracle
    //      recomputes each frame's mean luma from id arithmetic
    //      (Mpeg1Spec proves decode(synthMpeg1(id)) == the formula) ----
    "m06_mpeg1_frames" -> ((s, dir) => {
      import s.implicits._
      import graft.pipeline.{Mpeg1, Multimodal}
      Mpeg1.register()
      val media = docs(s, dir).select(col("doc_id")).filter(col("doc_id") < 60)
        .as[Long]
        .map(id => (id, Mpeg1.synthMpeg1(id)))
        .toDF("media_id", "payload")
        .select(col("media_id"), col("payload"),
          struct(lit("mpeg1").as("codec")).as("meta"))
      Multimodal.codecFrameSamples(s, media, stride = 1)
        .toDF()
        .select(col("media_id"), col("n_frames"), col("frame_idx"),
          round(col("mean_byte"), 4).as("mean_byte"))
        .orderBy("media_id", "frame_idx")
    }),

    // ---- energy-based voice-activity segmentation over REAL WAV decode
    //      (javax.sound.sampled): windows → active runs → segments, the
    //      silence-trim / utterance-split pass of any speech pipeline.
    //      The synthetic payload's segments derive from id parity, so
    //      the oracle recomputes every fact analytically while the
    //      ENGINE runs the real decode+segmentation --------------------
    "m04_audio_vad" -> ((s, dir) => {
      import s.implicits._
      import graft.pipeline.Multimodal
      val media = docs(s, dir).select(col("doc_id")).filter(col("doc_id") < 40)
        .as[Long]
        .map(id => (id, Multimodal.synthVadWav(id)))
        .toDF("id", "wav")
      Multimodal.vadSummaries(s,
          Multimodal.asMedia(media, "id", "wav", "audio"))
        .toDF()
        .select(col("media_id"), col("decoded"), col("n_segments"),
          col("active_ms"), col("first_ms"), col("last_ms"))
        .orderBy("media_id")
    }),

    // ---- BPE-ish subword token accounting (training-data budgeting) ----
    "p12_bpe_tokens" -> ((s, dir) => {
      val d = docs(s, dir)
      val toks = TextOps.bpeTokens(col("text"))
      d.select(col("doc_id"), col("source"), toks.as("bt"))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(size(col("bt"))).as("n_subwords"),
          avg(size(col("bt"))).as("avg_subwords"),
          sum(size(array_distinct(col("bt")))).as("sum_distinct"))
        .orderBy("source")
    }),

    // ---- embedding-cosine near-dup (LSH-bucketed; the oracle verifies
    //      invariants of the REPORTED pairs AND an independently-computed
    //      probe-truth count, while an in-query guard brute-forces the
    //      exact pair set over a 500-id probe prefix (broadcast, linear
    //      in n) and errors the gate below a 99.5% recall floor —
    //      planes=4/tables=32 measured missed=0 at sf0.01 and sf0.1 and
    //      2/5276 at the sf1 probe (≈ the binomial expectation for
    //      99.8% per-pair recall), where planes=8/tables=8 missed 11/14.
    //      planes/tables are NOT fixed: autoLshParamsDetailed grows planes with
    //      n (constant expected bucket size) and re-buys recall with
    //      tables — fixed planes=4 measured 88.6× wall at the ×10 probe
    //      (bucket occupancy ×10 ⇒ candidate pairs ×100); the auto form
    //      reproduces exactly (4, 32) at the test SFs ------------------
    "p09_embedding_neardup" -> ((s, dir) => {
      val e = embs(s, dir)
      // regime dispatcher: LSH at autoLshParamsDetailed inside the tables cap
      // (every MEASURED scale incl. the ×10 probe — the high-recall
      // regime, graded against its analytic n^1.62 budget in
      // tools/scale_regression.py), multi-probe SemDeDup cells past it
      // (n ≳ 128k at cos 0.45) with the recall trade documented at the
      // floor below — r12 measured both sides before keeping this
      // crossover (see autoLshParamsDetailed's doc)
      val pairs = Ann.nearDupPairsAuto(e, dims = 64, threshold = 0.45)
      pairs.write.mode("overwrite").parquet(s"$outRoot/neardup_pairs")
      val landed = s.read.parquet(s"$outRoot/neardup_pairs")
      // the probe-truth count is PART OF THE ORACLE CONTRACT (DuckDB
      // re-derives it independently), so it is always computed; only
      // the recall-floor audit joins it against the landed pairs, and
      // that join is the gate
      // trackedPersist, not a raw .cache(): this probe-truth frame must
      // ride Bench/Verify's per-query release like every other library
      // persist (ADVICE r13 — a raw cache escapes the registry)
      val truth = graft.operators.Broadcasts.trackedPersist(
        Ann.exactProbePairs(e, probeMax = 500L, threshold = 0.45)
          .select("i", "j"))
      val nTrueProbe = truth.count()
      graft.Gates.run {
        val missed = truth
          .join(landed.select("i", "j"), Seq("i", "j"), "left_anti").count()
        // Recall FLOOR, not zero-miss — and REGIME-AWARE: the LSH regime's
        // 32×4 parameterization gives ~99.8% per-pair recall at cos 0.45
        // (expected misses grow with the truth set; a zero-miss require is
        // a test-scale artifact a 10× corpus statistically breaks, as the
        // sf1 probe measured), so 0.5% still fails any real regression.
        // Past the tables cap the dispatcher runs multi-probe SemDeDup
        // cells, whose recall at THIS threshold tracks the probed-cell
        // fraction nProbe/nCells — MEASURED: 3.5% miss at a 25%
        // fraction (PipelineSpec forced-cap grading), ~40% at 2.5%
        // (the r12 sf1 probe that reverted the 8k crossover). The
        // cell-regime floor is set from that curve, not folklore: it
        // still fails loudly on systematic breakage (parameter drift
        // ⇒ ~100% miss) while accepting the documented trade the swap
        // IS at a moderate threshold.
        val overCap = Ann.autoLshParamsDetailed(e.count(), 0.45)._3
        val floor = if (overCap) 0.50 else 0.005
        require(missed.toDouble <= floor * nTrueProbe,
          s"near-dup recall regression (${if (overCap) "cell" else "LSH"} " +
            s"regime): dropped $missed/$nTrueProbe true pair(s)")
      }
      truth.unpersist()
      landed.agg(
        count(lit(1)).as("n_pairs"),
        coalesce(sum(when(col("cos_r") < 0.45, 1L).otherwise(0L)), lit(0L)).as("n_below"),
        coalesce(min(col("cos_r")), lit(0.0)).as("min_cos"))
        .withColumn("n_true_probe", lit(nTrueProbe))
    }),

    // ---- semantic decontamination (Ann.semanticContamination): the
    //      embedding-space cross-set pass — eval stratum broadcast, one
    //      train scan, per-train max cosine with lowest-eval-id argmax.
    //      Output is EVERY train row's nearest-eval account, so the
    //      oracle re-derives the full field, not just the flagged tail --
    "p68_semantic_decontaminate" -> ((s, dir) => {
      val e = embs(s, dir)
      // The eval stratum is a BENCHMARK SUITE: fixed-size by contract
      // (semanticContamination's doc — "eval sets are benchmarks, not
      // corpora"), so the fixture caps it at a fixed id prefix instead
      // of letting it grow 10% of the corpus. Without the cap the query
      // is intrinsically |T|·|E| ~ n²/10 — the r11 sf1 probe measured
      // exactly that (38.4 s vs a 15.6 s budget at ×10). At the test
      // SFs (n ≤ 2000) the cap is a no-op, so oracle results are
      // unchanged; at any larger scale cost is linear in train.
      val ev = e.filter(col("vec_id") % 10 === 7 && col("vec_id") < 2000)
      val tr = e.filter(col("vec_id") % 10 =!= 7)
      Ann.semanticContamination(tr, ev, threshold = 0.45)
        .orderBy("train_id")
    }),

    // ---- data-quality expectation suite (Quality.expectations): six
    //      named contract rules — null/empty/range/consistency/allowed-
    //      set row rules plus doc_id uniqueness — all priced into ONE
    //      scan-and-aggregate; the oracle recomputes every count --------
    "p69_expectations" -> ((s, dir) => {
      import graft.pipeline.Quality
      Quality.expectations(docs(s, dir),
        rowRules = Seq(
          "doc_id_not_null" -> col("doc_id").isNull,
          "lang_allowed" -> !col("lang").isin("en", "de", "fr", "es"),
          "min_length_100" -> (coalesce(col("n_chars"), lit(0L)) < 100L),
          "n_chars_consistent" ->
            (col("n_chars") =!= length(col("text"))),
          "source_prefix" -> !col("source").startsWith("src"),
          "text_nonempty" ->
            (col("text").isNull || length(col("text")) === 0)),
        uniqueCols = Seq("doc_id"))
    }),

    // ---- salted two-phase aggregation (SkewJoin.saltedAgg) made gate-
    //      visible: events has 5 event_type groups — the hot-key shape —
    //      so the merge of ONE key's partials spreads over 32 salted
    //      reducers before a tiny keys×salts fold. Decimal sums keep the
    //      two-phase result bit-equal to the oracle's one-phase sum -----
    "p70_salted_agg" -> ((s, dir) => {
      import graft.operators.SkewJoin
      import graft.operators.SkewJoin.Measure
      val ev = Tables.t(s, dir, "events")
        .withColumn("dval", col("value").cast("decimal(18,6)"))
      SkewJoin.saltedAgg(ev, Seq("event_type"),
        Seq(Measure("count", "", "n"),
          Measure("sum", "dval", "sum_value"),
          Measure("min", "user_id", "min_user"),
          Measure("max", "user_id", "max_user")),
        salts = 32)
        .select(col("event_type"), col("n"),
          col("sum_value").cast("double").as("sum_value"),
          col("min_user"), col("max_user"))
        .orderBy("event_type")
    }),

    // ---- JL random sign projection (Ann.randomProjection): 64 → 16
    //      dims, matrix-free scan-local sketching. In-query guard pins
    //      the JL concentration itself (mean norm ratio ≈ 1, every ratio
    //      inside a >5σ band); the oracle recomputes four coordinates
    //      and the ratio from the same closed-form sign hash ------------
    "p71_random_projection" -> ((s, dir) => {
      val out = graft.pipeline.Ann.randomProjection(embs(s, dir),
        dims = 64, k = 16)
      graft.Gates.run {
        val g = out.agg(
          avg(col("norm_ratio")).as("mr"),
          min(col("norm_ratio")).as("lo"),
          max(col("norm_ratio")).as("hi")).head()
        require(g.getDouble(0) > 0.85 && g.getDouble(0) < 1.15,
          s"JL mean norm ratio off: ${g.getDouble(0)}")
        require(g.getDouble(1) > 0.3 && g.getDouble(2) < 2.2,
          s"JL ratio out of the 5-sigma band: [${g.getDouble(1)}, ${g.getDouble(2)}]")
      }
      out.select(col("vec_id"),
        round(col("y").getItem(0), 6).as("y0"),
        round(col("y").getItem(1), 6).as("y1"),
        round(col("y").getItem(2), 6).as("y2"),
        round(col("y").getItem(3), 6).as("y3"),
        round(col("norm_ratio"), 6).as("norm_ratio"))
        .orderBy("vec_id")
    }),

    // ---- UniMax budget allocation (Mixing.uniMaxAllocation): epoch-
    //      capped water-filling with the closed-form capped-prefix
    //      criterion — budget 1.6× corpus chars at cap 2 epochs caps
    //      every minority language and leaves `en` splitting the rest,
    //      so BOTH branches of the closed form are load-bearing ---------
    "p72_unimax_mix" -> ((s, dir) => {
      import graft.pipeline.Mixing
      val perLang = docs(s, dir).groupBy("lang")
        .agg(sum(col("n_chars")).as("chars"))
      val total = perLang.agg(sum(col("chars"))).head().getLong(0)
      val out = Mixing.uniMaxAllocation(perLang, "lang", "chars",
        budget = 1.6 * total, epochCap = 2.0)
      // water-filling invariant: the allocation exhausts the budget
      // exactly when any source is uncapped (else it is Σ cap)
      val got = out.agg(sum(col("alloc"))).head().getDouble(0)
      require(math.abs(got - math.min(1.6 * total,
        out.agg(sum(col("cap"))).head().getDouble(0))) < 1e-6 * total,
        s"allocation mass off: $got")
      out.select(col("lang"), col("chars"), col("cap"), col("capped"),
        round(col("alloc"), 4).as("alloc"),
        round(col("epochs"), 6).as("epochs"))
        .orderBy("lang")
    }),

    // ---- Catalyst optimizer rule on the VERIFIED path (plans/
    //      RangeJoinRewrite): the query is written as the NAIVE theta
    //      join — cross join + overlap filter — and the injected rule
    //      rewrites it to the canonical-bucket equi-join. Broadcast is
    //      disabled so the in-query guard proves the real claim: no
    //      CartesianProduct and no BroadcastNestedLoopJoin survive in
    //      the executed plan, only a hashable equi join. The oracle
    //      brute-forces the same theta join in DuckDB, so the rewrite
    //      must be EXACT, pair for pair --------------------------------
    "p73_rangejoin_rewrite" -> ((s, dir) => {
      import graft.plans.RangeJoinRewrite
      val prevOpt = s.experimental.extraOptimizations
      val prevThresh = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
      s.conf.set(RangeJoinRewrite.WidthKey, "3600000000") // 1 h buckets
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s.experimental.extraOptimizations = prevOpt :+ RangeJoinRewrite
      try {
        def iv(mod: Int, pre: String, lenUnit: Long) =
          Tables.t(s, dir, "events").filter(col("event_id") % mod === 0)
            .select(col("event_id").as(s"${pre}_id"),
              unix_micros(col("ts")).as(s"${pre}_s"),
              (unix_micros(col("ts")) +
                (col("user_id") % 5 + 1) * lenUnit).as(s"${pre}_e"))
        val naive = iv(7, "l", 1800000000L).join(iv(11, "r", 900000000L))
          .filter(col("l_s") <= col("r_e") && col("r_s") <= col("l_e"))
        val plan = naive.queryExecution.executedPlan.toString
        require(!plan.contains("CartesianProduct") &&
          !plan.contains("BroadcastNestedLoop"),
          s"rule did not fire — theta join stayed quadratic:\n${plan.take(1500)}")
        naive.agg(
          count(lit(1)).as("n_pairs"),
          sum(col("l_id") * 31 + col("r_id")).as("pair_checksum"),
          sum(when(col("l_id") === col("r_id"), 1L).otherwise(0L))
            .as("n_self"),
          max(col("r_e") - col("l_s")).as("max_span_us"))
      } finally {
        s.experimental.extraOptimizations = prevOpt
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
        s.conf.unset(RangeJoinRewrite.WidthKey)
      }
    })
  )

  private val duckToks =
    "list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')"
  private val duckStops = TextOps.EnStopwords.map(w => s"'$w'").mkString("[", ", ", "]")

  val oracles: Map[String, String] = Map(
    "p01_text_stats" -> s"""
      SELECT doc_id,
        CAST(len(toks) AS BIGINT) AS n_tokens,
        CAST(length(text) - length(regexp_replace(text, '[.,;:!?''"()]', '', 'g')) AS BIGINT) AS n_punct,
        CAST(len(list_filter(toks, t -> list_contains($duckStops, t))) AS DOUBLE)
          / greatest(len(toks), 1) AS stop_ratio,
        CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
          / greatest(len(toks), 1) AS mean_tok_len,
        md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
      FROM (SELECT doc_id, text, $duckToks AS toks FROM documents)
      ORDER BY doc_id""",

    "p25_funnel_completions" -> """
      WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_type FROM events
                 WHERE event_type IN ('view', 'click', 'purchase')),
      u AS (SELECT DISTINCT user_id FROM events),
      fe AS (SELECT c.user_id, min(c.t) AS first_end_us
             FROM e a, e b, e c
             WHERE a.user_id = c.user_id AND b.user_id = c.user_id
               AND a.event_type = 'view' AND b.event_type = 'click'
               AND c.event_type = 'purchase'
               AND b.t > a.t AND c.t > b.t
               AND c.t - a.t <= 21600000000
             GROUP BY c.user_id)
      SELECT u.user_id, fe.user_id IS NOT NULL AS has_funnel, fe.first_end_us
      FROM u LEFT JOIN fe ON fe.user_id = u.user_id
      ORDER BY u.user_id""",

    "p26_dedup_clusters" -> s"""
      WITH RECURSIVE p AS (
        SELECT i, j FROM read_parquet('$outRoot/cc_pairs/*.parquet')),
      edges AS (SELECT i AS a, j AS b FROM p UNION SELECT j, i FROM p),
      reach(v, l) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.a, r.l FROM edges e JOIN reach r ON e.b = r.v),
      lab AS (SELECT v, min(l) AS cluster FROM reach GROUP BY v)
      SELECT cluster, COUNT(*) AS size, MAX(v) AS max_member
      FROM lab GROUP BY cluster ORDER BY cluster""",

    "p24_quality_gopher" -> s"""
      WITH base AS (
        SELECT doc_id, text, string_split(text, chr(10)) AS lines,
               $duckToks AS toks
        FROM documents),
      sl AS (
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars_txt,
               CAST(len(lines) AS BIGINT) AS n_lines,
               CAST(len(list_filter(lines,
                 l -> regexp_matches(ltrim(l), '^[-*•]'))) AS BIGINT) AS n_bullet,
               CAST(len(toks) AS BIGINT) AS n_toks,
               CAST(len(list_distinct(toks)) AS BIGINT) AS n_types,
               CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
                 / greatest(len(toks), 1) AS mean_tok_len,
               CAST((length(text) - length(replace(text, '#', '')))
                 + (length(text) - length(regexp_replace(text, '\\.\\.\\.', '', 'g'))) / 3
                 AS BIGINT) AS n_symbols
        FROM base),
      la AS (
        SELECT doc_id, SUM(cnt) AS line_occ, SUM(cnt) - COUNT(*) AS line_repeats,
               SUM(CASE WHEN cnt > 1 THEN cnt * length(line) ELSE 0 END) AS dup_line_chars,
               SUM(cnt * length(line)) AS tot_line_chars
        FROM (SELECT doc_id, line, COUNT(*) AS cnt FROM (
                SELECT doc_id, unnest(lines) AS line FROM base)
              GROUP BY doc_id, line)
        GROUP BY doc_id),
      tb AS (
        SELECT doc_id, CASE WHEN cnt > 1 THEN cnt * length(bigram)
                            ELSE 0 END AS top_bigram_chars FROM (
          SELECT doc_id, bigram, cnt,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY cnt DESC, bigram) AS rn
          FROM (SELECT doc_id, bigram, COUNT(*) AS cnt FROM (
                  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
                    i -> toks[i] || ' ' || toks[i + 1])) AS bigram FROM base)
                GROUP BY doc_id, bigram))
        WHERE rn = 1),
      tg AS (
        SELECT doc_id,
               SUM(CASE WHEN cnt > 1 THEN cnt * length(g) ELSE 0 END) AS dup_trigram_chars,
               SUM(cnt * length(g)) AS tot_trigram_chars
        FROM (SELECT doc_id, g, COUNT(*) AS cnt FROM (
                SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
                  i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS g
                FROM base)
              GROUP BY doc_id, g)
        GROUP BY doc_id),
      m AS (
        SELECT sl.doc_id, sl.n_lines,
          CAST(COALESCE(la.line_repeats, 0) AS DOUBLE)
            / greatest(la.line_occ, 1) AS dup_line_frac,
          CAST(COALESCE(la.dup_line_chars, 0) AS DOUBLE)
            / greatest(la.tot_line_chars, 1) AS dup_line_char_frac,
          CAST(sl.n_bullet AS DOUBLE) / greatest(sl.n_lines, 1) AS bullet_line_frac,
          CAST(COALESCE(tb.top_bigram_chars, 0) AS DOUBLE)
            / greatest(sl.n_chars_txt, 1) AS top_bigram_char_frac,
          CAST(COALESCE(tg.dup_trigram_chars, 0) AS DOUBLE)
            / greatest(COALESCE(tg.tot_trigram_chars, 0), 1) AS dup_trigram_char_frac,
          CAST(sl.n_types AS DOUBLE) / greatest(sl.n_toks, 1) AS type_token_ratio,
          sl.mean_tok_len,
          CAST(sl.n_symbols AS DOUBLE) / greatest(sl.n_toks, 1) AS symbol_word_ratio
        FROM sl
        LEFT JOIN la ON sl.doc_id = la.doc_id
        LEFT JOIN tb ON sl.doc_id = tb.doc_id
        LEFT JOIN tg ON sl.doc_id = tg.doc_id)
      SELECT *,
        dup_line_frac <= 0.30 AND dup_line_char_frac <= 0.30
          AND bullet_line_frac <= 0.90 AND top_bigram_char_frac <= 0.10
          AND dup_trigram_char_frac <= 0.10 AND type_token_ratio >= 0.35
          AND mean_tok_len >= 3.0 AND mean_tok_len <= 10.0
          AND symbol_word_ratio <= 0.10 AS keep
      FROM m ORDER BY doc_id""",

    "p02_lang_id" -> s"""
      SELECT CASE WHEN CAST(len(list_filter(toks, t -> list_contains($duckStops, t))) AS DOUBLE)
                       / greatest(len(toks), 1) >= 0.05
                  THEN 'en' ELSE 'unk' END AS pred_lang,
             source, COUNT(*) AS n
      FROM (SELECT source, $duckToks AS toks FROM documents)
      GROUP BY 1, 2 ORDER BY 1, 2""",

    "p03_exact_dedup" -> """
      SELECT COUNT(*) AS n_groups,
             CAST(SUM(n) AS BIGINT) AS n_docs,
             CAST(MAX(n) AS BIGINT) AS max_group,
             CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups
      FROM (SELECT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp,
                   COUNT(*) AS n
            FROM documents GROUP BY 1) g""",

    "p04_minhash_dedup" -> s"""
      WITH sh AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
        FROM (SELECT doc_id, $duckToks AS toks FROM documents)
        WHERE len(toks) >= 3)
      SELECT a.doc_id AS i, b.doc_id AS j,
             CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
               / len(list_distinct(a.s || b.s)) AS jaccard
      FROM sh a, sh b
      WHERE a.doc_id < b.doc_id
        AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
              / len(list_distinct(a.s || b.s)) >= 0.5
      ORDER BY i, j""",

    "p05_simhash_dedup" -> s"""
      SELECT a.id AS i, b.id AS j,
             CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
      FROM read_parquet('$outRoot/simhash_sigs/*.parquet') a,
           read_parquet('$outRoot/simhash_sigs/*.parquet') b
      WHERE a.id < b.id AND bit_count(xor(a.sig, b.sig)) <= 3
      ORDER BY i, j""",

    "p06_ann_bruteforce" -> """
      SELECT query_id, rank, neighbor_id, cos_r FROM (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
               -- same double rounding as the Spark side: the operator
               -- rounds to 1e-8 for ranking, the surface re-rounds to 1e-6
               round(round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                  CAST(e.embedding AS DOUBLE[])), 8), 6) AS cos_r,
               CAST(row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                       CAST(e.embedding AS DOUBLE[])), 8) DESC,
                          e.vec_id) AS BIGINT) AS rank
        FROM embeddings q, embeddings e
        WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id) t
      WHERE rank <= 3
      ORDER BY query_id, rank""",

    "p07_ann_lsh" -> s"""
      SELECT p.vec_id, p.neighbor_id,
             round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                          CAST(b.embedding AS DOUBLE[])), 6) AS cos_r
      FROM read_parquet('$outRoot/ann_pairs/*.parquet') p
      JOIN embeddings a ON a.vec_id = p.vec_id
      JOIN embeddings b ON b.vec_id = p.neighbor_id
      ORDER BY p.vec_id""",

    "p55_attribution_outer" -> """
      SELECT p.event_id AS purchase_id, p.user_id,
             p.ts AS purchase_ts, c.event_id AS click_id,
             CAST(date_diff('microsecond', c.ts, p.ts) AS BIGINT) / 1000000 AS gap_s
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON p.user_id = c.user_id
       AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 30 MINUTE
      ORDER BY purchase_id, click_id""",

    "p54_sliding_window" -> """
      WITH w AS (SELECT event_type, value,
                   unnest([time_bucket(INTERVAL '5 minutes', ts),
                           time_bucket(INTERVAL '5 minutes', ts)
                             - INTERVAL 5 MINUTE]) AS win_start
                 FROM events)
      SELECT win_start, event_type, COUNT(*) AS n,
             round(CAST(SUM(value) AS DOUBLE), 4) AS sum_value
      FROM w GROUP BY 1, 2 ORDER BY 1, 2""",

    "p51_classifier_quality" -> s"""
      WITH f AS (SELECT doc_id, text, $duckToks AS toks FROM documents),
      z AS (SELECT doc_id, len(toks) AS n_toks,
        -2.0 + 0.15 * ln(1.0 + len(toks))
        + 0.35 * (CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
                  / greatest(len(toks), 1))
        + 3.0 * (CAST(len(list_filter(toks, t -> list_contains($duckStops, t))) AS DOUBLE)
                 / greatest(len(toks), 1))
        - 8.0 * (CAST(length(text) - length(regexp_replace(text, '[.,;:!?''"()]', '', 'g')) AS DOUBLE)
                 / greatest(len(toks), 1))
        - 6.0 * (CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
                 / greatest(length(text), 1))
        - 2.0 * (CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE)
                 / greatest(length(text), 1))
        + 1.5 * (CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1)) AS z
      FROM f)
      SELECT doc_id, CAST(n_toks AS BIGINT) AS n_toks,
             round(1.0 / (1.0 + exp(-z)), 6) AS score,
             round(1.0 / (1.0 + exp(-z)), 6) >= 0.5 AS keep
      FROM z ORDER BY doc_id""",

    "p50_filtered_ann" -> s"""
      SELECT p.query_id, CAST(a.label AS INTEGER) AS label, p.rank,
             p.neighbor_id,
             round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                          CAST(b.embedding AS DOUBLE[])), 6) AS cos_r
      FROM read_parquet('$outRoot/filtered_ann/*.parquet') p
      JOIN embeddings a ON a.vec_id = p.query_id
      JOIN embeddings b ON b.vec_id = p.neighbor_id
      WHERE a.label = b.label
      ORDER BY p.query_id, p.rank""",

    "p08_events_window" -> """
      SELECT date_trunc('hour', ts) AS hour_start, event_type,
             COUNT(*) AS n,
             CAST(SUM(value) AS DOUBLE) AS sum_value,
             AVG(CAST(json_extract_string(props, '$.k') AS INT)) AS avg_k
      FROM events
      GROUP BY 1, 2
      ORDER BY 1, 2""",

    "p14_sessionize" -> """
      WITH m AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      g AS (
        SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM m)
      SELECT user_id,
             MIN(ts) AS session_start,
             MAX(ts) + INTERVAL 30 MINUTE AS session_end,
             COUNT(*) AS n_events,
             ROUND(CAST(SUM(value) AS DOUBLE), 4) AS sum_value
      FROM g GROUP BY user_id, sid
      ORDER BY user_id, session_start""",

    "p11_ann_ivf" -> s"""
      WITH r AS (
        SELECT p.query_id, p.rank, p.cos_r,
               round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                            CAST(b.embedding AS DOUBLE[])), 8) AS cr
        FROM read_parquet('$outRoot/ivf_pairs/*.parquet') p
        JOIN embeddings a ON a.vec_id = p.query_id
        JOIN embeddings b ON b.vec_id = p.neighbor_id),
      v AS (
        SELECT cos_r, cr,
               lag(cr) OVER (PARTITION BY query_id ORDER BY rank) AS prev_cr
        FROM r),
      ex AS (
        SELECT query_id, neighbor_id FROM (
          SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                 row_number() OVER (PARTITION BY q.vec_id ORDER BY
                   round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                CAST(e.embedding AS DOUBLE[])), 8) DESC,
                   e.vec_id) AS rank
          FROM embeddings q, embeddings e
          WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id) t
        WHERE rank <= 3)
      SELECT COUNT(*) AS n_rows,
             CAST(COALESCE(SUM(CASE WHEN cos_r <> cr THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_cos_mismatch,
             CAST(COALESCE(SUM(CASE WHEN cr > prev_cr THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_rank_violations,
             (SELECT COUNT(*) FROM ex) AS n_exact3,
             (SELECT COUNT(*) FROM ex
              JOIN read_parquet('$outRoot/ivf_pairs/*.parquet') p2
                ON p2.query_id = ex.query_id AND p2.neighbor_id = ex.neighbor_id)
               AS n_r3_hits
      FROM v""",

    "p43_pq_adc_topk" -> s"""
      WITH cb AS (
        SELECT subspace, code, cent
        FROM read_parquet('$outRoot/pq_codebooks/*.parquet')),
      a AS (
        SELECT e.vec_id, cb.subspace, cb.code,
               round(list_sum(list_transform(range(1, 9), i ->
                 (CAST(e.embedding[CAST(cb.subspace * 8 + i AS INT)] AS DOUBLE) - cb.cent[i]) *
                 (CAST(e.embedding[CAST(cb.subspace * 8 + i AS INT)] AS DOUBLE) - cb.cent[i]))), 6) AS d
        FROM embeddings e CROSS JOIN cb),
      codes AS (
        SELECT vec_id, subspace, code FROM (
          SELECT vec_id, subspace, code,
                 row_number() OVER (PARTITION BY vec_id, subspace
                                    ORDER BY d, code) AS rk
          FROM a) t WHERE rk = 1),
      dt AS (
        SELECT q.vec_id AS query_id, cb.subspace, cb.code,
               list_sum(list_transform(range(1, 9), i ->
                 (CAST(q.embedding[CAST(cb.subspace * 8 + i AS INT)] AS DOUBLE) - cb.cent[i]) *
                 (CAST(q.embedding[CAST(cb.subspace * 8 + i AS INT)] AS DOUBLE) - cb.cent[i]))) AS d
        FROM embeddings q CROSS JOIN cb WHERE q.vec_id < 10),
      sc AS (
        SELECT dt.query_id, c.vec_id AS neighbor_id, round(SUM(dt.d), 6) AS adc
        FROM codes c JOIN dt ON dt.subspace = c.subspace AND dt.code = c.code
        WHERE c.vec_id <> dt.query_id GROUP BY 1, 2),
      short AS (
        -- shortlist scales with the corpus exactly as the Spark side:
        -- max(100, n/20) (integer floor division)
        SELECT query_id, neighbor_id FROM (
          SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY adc, neighbor_id) AS rk
          FROM sc) t
        WHERE rk <= greatest(100, (SELECT count(*) // 20 FROM embeddings))),
      re AS (
        SELECT s.query_id, s.neighbor_id,
               round(list_sum(list_transform(range(1, 65), i ->
                 (CAST(q.embedding[i] AS DOUBLE) - CAST(n.embedding[i] AS DOUBLE)) *
                 (CAST(q.embedding[i] AS DOUBLE) - CAST(n.embedding[i] AS DOUBLE)))), 6) AS dist
        FROM short s
        JOIN embeddings q ON q.vec_id = s.query_id
        JOIN embeddings n ON n.vec_id = s.neighbor_id)
      SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, dist FROM (
        SELECT query_id, neighbor_id, dist,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY dist, neighbor_id) AS rank
        FROM re) t WHERE rank <= 3 ORDER BY query_id, rank""",

    "p10_ngram_jaccard_dedup" -> s"""
      WITH sh AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
        FROM (SELECT doc_id, $duckToks AS toks FROM documents)
        WHERE len(toks) >= 3)
      SELECT a.doc_id AS i, b.doc_id AS j,
             CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
               / len(list_distinct(a.s || b.s)) AS jaccard
      FROM sh a, sh b
      WHERE a.doc_id < b.doc_id
        AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
              / len(list_distinct(a.s || b.s)) >= 0.5
      ORDER BY i, j""",

    "p13_winnowing_dedup" -> s"""
      WITH sh AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
        FROM (SELECT doc_id, $duckToks AS toks FROM documents)
        WHERE len(toks) >= 3)
      SELECT a.doc_id AS i, b.doc_id AS j,
             CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
               / len(list_distinct(a.s || b.s)) AS jaccard
      FROM sh a, sh b
      WHERE a.doc_id < b.doc_id
        AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
              / len(list_distinct(a.s || b.s)) >= 0.5
      ORDER BY i, j""",

    "p65_bitext_margin" -> """
      WITH a AS (SELECT vec_id AS a_id, embedding AS a_emb
                 FROM embeddings WHERE label = 0),
      b AS (SELECT vec_id AS b_id, embedding AS b_emb
            FROM embeddings WHERE label = 1),
      sc AS (SELECT a_id, b_id,
               round(list_cosine_similarity(CAST(a_emb AS DOUBLE[]),
                                            CAST(b_emb AS DOUBLE[])), 8) AS cos_r
             FROM a, b),
      fwd AS (SELECT a_id, b_id, cos_r,
                row_number() OVER (PARTITION BY a_id
                                   ORDER BY cos_r DESC, b_id) AS rk
              FROM sc),
      ma AS (SELECT a_id, AVG(cos_r) AS ma FROM fwd WHERE rk <= 4 GROUP BY a_id),
      rev AS (SELECT b_id, cos_r,
                row_number() OVER (PARTITION BY b_id
                                   ORDER BY cos_r DESC, a_id) AS rk
              FROM sc),
      mb AS (SELECT b_id, AVG(cos_r) AS mb FROM rev WHERE rk <= 4 GROUP BY b_id)
      SELECT a_id, b_id, cos_r,
             round(cos_r / (0.5 * ma + 0.5 * mb), 6) AS margin,
             round(cos_r / (0.5 * ma + 0.5 * mb), 6) > 1.2 AS accepted
      FROM (SELECT a_id, b_id, cos_r FROM fwd WHERE rk = 1) t
      JOIN ma USING (a_id) JOIN mb USING (b_id)
      ORDER BY a_id""",

    "p95_url_canonicalize" -> """
      WITH u AS (SELECT
        CASE doc_id % 5
          WHEN 0 THEN 'HTTP://WWW.Site' || CAST(doc_id % 7 AS VARCHAR) ||
            '.COM:80/p/' || CAST(doc_id // 5 AS VARCHAR) ||
            '?utm_source=x&b=2&a=1#frag'
          WHEN 1 THEN 'http://site' || CAST(doc_id % 7 AS VARCHAR) ||
            '.com/p/' || CAST(doc_id // 5 AS VARCHAR) || '?a=1&b=2'
          WHEN 2 THEN 'https://Site' || CAST(doc_id % 7 AS VARCHAR) ||
            '.com:443/p/' || CAST(doc_id // 5 AS VARCHAR) || '?b=2&a=1&ref=tw'
          WHEN 3 THEN 'https://site' || CAST(doc_id % 7 AS VARCHAR) ||
            '.com/p/' || CAST(doc_id // 5 AS VARCHAR)
          ELSE 'site' || CAST(doc_id % 7 AS VARCHAR) || '.com/p/' ||
            CAST(doc_id // 5 AS VARCHAR)
        END AS url FROM documents),
      parts AS (SELECT url,
        lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        lower(regexp_extract(url, '^[^:/?#]+://([^/?#]*)', 1)) AS hostport,
        regexp_extract(url, '^[^:/?#]+://[^/?#]*([^?#]*)', 1) AS path,
        regexp_extract(url, '^[^#?]*\?([^#]*)', 1) AS query FROM u),
      canon AS (SELECT
        CASE WHEN scheme = '' THEN url ELSE
          scheme || '://' ||
          (CASE
            WHEN scheme = 'http' THEN
              regexp_replace(regexp_replace(hostport, '^www\.', ''), ':80$', '')
            WHEN scheme = 'https' THEN
              regexp_replace(regexp_replace(hostport, '^www\.', ''), ':443$', '')
            ELSE regexp_replace(hostport, '^www\.', '') END) ||
          (CASE WHEN path = '' THEN '/' ELSE path END) ||
          -- COALESCE: DuckDB array_to_string([]) is NULL, not ''
          (CASE WHEN COALESCE(array_to_string(list_sort(list_filter(
               string_split(query, '&'),
               p -> NOT (starts_with(p, 'utm_') OR starts_with(p, 'gclid=')
                 OR starts_with(p, 'fbclid=') OR starts_with(p, 'ref=')
                 OR p = ''))), '&'), '') = '' THEN ''
            ELSE '?' || array_to_string(list_sort(list_filter(
               string_split(query, '&'),
               p -> NOT (starts_with(p, 'utm_') OR starts_with(p, 'gclid=')
                 OR starts_with(p, 'fbclid=') OR starts_with(p, 'ref=')
                 OR p = ''))), '&') END)
        END AS url_canon FROM parts)
      SELECT url_canon, CAST(COUNT(*) AS BIGINT) AS n
      FROM canon GROUP BY url_canon ORDER BY url_canon""",

    "p93_compress_quality" -> """
      WITH pos AS (
        SELECT d.doc_id, d.text,
               unnest(range(1, greatest(len(d.text) - 7, 0) + 1)) AS i
        FROM documents d),
      u AS (
        SELECT doc_id,
               CAST(count(DISTINCT substr(text, CAST(i AS INTEGER), 8))
                 AS BIGINT) AS uniq
        FROM pos GROUP BY doc_id),
      g AS (
        -- LEFT join: a doc shorter than 8 chars has no positions at all
        SELECT d.lang,
               CAST(greatest(len(d.text) - 7, 0) AS BIGINT) AS total,
               COALESCE(u.uniq, 0) AS uniq
        FROM documents d LEFT JOIN u USING (doc_id)),
      m AS (
        SELECT lang, total, uniq,
               CASE WHEN total = 0 THEN 0.0
                    ELSE 1.0 - CAST(uniq AS DOUBLE) / CAST(total AS DOUBLE)
               END AS mass
        FROM g)
      SELECT lang, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(uniq) AS BIGINT) AS uniq_grams,
             CAST(sum(total) AS BIGINT) AS total_grams,
             round(1.0 - CAST(sum(uniq) AS DOUBLE) /
               CAST(sum(total) AS DOUBLE), 6) AS corpus_mass,
             round(max(mass), 6) AS max_doc_mass
      FROM m GROUP BY lang ORDER BY lang""",

    "p94_html_extract" -> """
      WITH h AS (SELECT doc_id,
        '<html><head><title>t</title><style>p{color:red}</style>' ||
        '<script type="text/javascript">var x=1;</script></head>' ||
        '<body><!-- nav --><p class="main">' || text ||
        '</p><div>Tom &amp; Jerry &lt;3 &quot;quoted&#39;' ||
        '&nbsp;end</div></body></html>' AS html
        FROM documents),
      x AS (SELECT doc_id, trim(regexp_replace(
        replace(replace(replace(replace(replace(replace(
          regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
            '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
            '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
            '(?s)<!--.*?-->', ' ', 'g'),
            '(?s)<[^>]+>', ' ', 'g'),
          '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
          '&nbsp;', ' '), '&amp;', '&'),
        '\s+', ' ', 'g')) AS t FROM h)
      SELECT doc_id, CAST(length(t) AS BIGINT) AS n_chars, md5(t) AS fp
      FROM x ORDER BY doc_id""",

    "p92_hard_negatives" -> """
      WITH a AS (SELECT vec_id AS anchor_id, label AS a_lbl,
                        embedding AS a_emb
                 FROM embeddings WHERE vec_id < 10),
      sc AS MATERIALIZED (
        SELECT a.anchor_id, a.a_lbl, e.vec_id AS cand_id, e.label AS c_lbl,
               round(list_cosine_similarity(CAST(a.a_emb AS DOUBLE[]),
                 CAST(e.embedding AS DOUBLE[])), 8) AS cos_r
        FROM embeddings e CROSS JOIN a
        WHERE e.vec_id <> a.anchor_id),
      pos AS (SELECT anchor_id, cand_id AS pos_id, cos_r AS cos_pos FROM (
                SELECT anchor_id, cand_id, cos_r,
                       row_number() OVER (PARTITION BY anchor_id
                         ORDER BY cos_r DESC, cand_id) AS rk
                FROM sc WHERE c_lbl = a_lbl) t WHERE rk = 1),
      neg AS (SELECT anchor_id, cand_id AS neg_id, cos_r AS cos_neg FROM (
                SELECT anchor_id, cand_id, cos_r,
                       row_number() OVER (PARTITION BY anchor_id
                         ORDER BY cos_r DESC, cand_id) AS rk
                FROM sc WHERE c_lbl <> a_lbl) t WHERE rk = 1)
      SELECT pos.anchor_id, pos_id, cos_pos, neg_id, cos_neg,
             cos_neg > cos_pos - 0.1 AS violation
      FROM pos JOIN neg USING (anchor_id) ORDER BY pos.anchor_id""",

    "p98_embedding_drift" -> """
      WITH e AS (SELECT label, vec_id % 2 AS snap, embedding
                 FROM embeddings),
      nr AS (SELECT label, snap, COUNT(*) AS n,
               round(AVG(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)
                 AS mean_norm
             FROM e GROUP BY 1, 2),
      ex AS (SELECT label, snap,
               generate_subscripts(embedding, 1) AS dim,
               unnest(embedding) AS x
             FROM e),
      dm AS (SELECT label, snap, dim,
               round(AVG(CAST(x AS DOUBLE)), 6) AS m
             FROM ex GROUP BY 1, 2, 3),
      cmp AS (SELECT a.label,
                SUM(a.m * b.m) AS dot,
                SUM(a.m * a.m) AS na2,
                SUM(b.m * b.m) AS nb2,
                SUM((a.m - b.m) * (a.m - b.m)) AS d2
              FROM dm a JOIN dm b
                ON a.label = b.label AND a.dim = b.dim
               AND a.snap = 0 AND b.snap = 1
              GROUP BY 1)
      SELECT c.label, na.n AS n_a, nb.n AS n_b,
             round(c.dot / sqrt(c.na2 * c.nb2), 6) AS centroid_cos,
             round(sqrt(c.d2), 6) AS mean_shift_l2,
             round(nb.mean_norm / na.mean_norm, 6) AS norm_ratio
      FROM cmp c
      JOIN nr na ON na.label = c.label AND na.snap = 0
      JOIN nr nb ON nb.label = c.label AND nb.snap = 1
      ORDER BY c.label""",

    "p100_dp_release" -> """
      WITH pu AS (SELECT user_id AS u, event_type AS category,
                    COUNT(*) AS n_uc
                  FROM events GROUP BY 1, 2),
      tk AS (SELECT u, category, n_uc,
               row_number() OVER (PARTITION BY u
                 ORDER BY least(n_uc, 8) DESC, category) AS rk
             FROM pu),
      obs AS (SELECT category, SUM(least(n_uc, 8)) AS n_capped
              FROM tk WHERE rk <= 4 GROUP BY 1),
      -- public domain: data-independent output support (noisy zeros for
      -- unobserved categories; out-of-domain categories never released)
      dom(category) AS (VALUES ('click'), ('error'), ('purchase'),
                               ('signup'), ('view')),
      c AS (SELECT dom.category, COALESCE(obs.n_capped, 0) AS n_capped
            FROM dom LEFT JOIN obs USING (category)),
      h AS (SELECT category, n_capped,
              ('0x' || substr(md5('dp-r8:' || category), 1, 8))::BIGINT
                / 4294967296.0 AS uu
            FROM c),
      z AS (SELECT category, n_capped,
              round(-32.0 * sign(uu - 0.5)
                * ln(greatest(1 - 2 * abs(uu - 0.5), 4.656612873077393e-10)),
                4) AS noise
            FROM h)
      SELECT category, CAST(n_capped AS BIGINT) AS n_capped, noise,
             round(greatest(0.0, n_capped + noise), 4) AS n_released
      FROM z ORDER BY category""",

    "p99_embedding_whiten" -> s"""
      WITH w AS (SELECT vec_id, white
                 FROM read_parquet('$outRoot/whitened/*.parquet')),
      e AS (SELECT vec_id,
              generate_subscripts(white, 1) - 1 AS i,
              unnest(white) AS x
            FROM w)
      SELECT a.i AS i, b.i AS j,
             round(AVG(a.x * b.x) - AVG(a.x) * AVG(b.x), 6) + 0.0 AS cov
      FROM e a JOIN e b USING (vec_id)
      WHERE a.i <= b.i
      GROUP BY 1, 2
      ORDER BY 1, 2""",

    "p89_bitext_indexed" -> s"""
      WITH landed AS (
        SELECT * FROM read_parquet('$outRoot/bitext_idx/*.parquet')),
      r AS (
        SELECT l.cos_r, l.accepted,
               round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                            CAST(b.embedding AS DOUBLE[])), 8) AS cr
        FROM landed l
        JOIN embeddings a ON a.vec_id = l.a_id
        JOIN embeddings b ON b.vec_id = l.b_id),
      a AS (SELECT vec_id AS a_id, embedding AS a_emb
            FROM embeddings WHERE label = 0),
      b AS (SELECT vec_id AS b_id, embedding AS b_emb
            FROM embeddings WHERE label = 1),
      sc AS MATERIALIZED (SELECT a_id, b_id,
               round(list_cosine_similarity(CAST(a_emb AS DOUBLE[]),
                                            CAST(b_emb AS DOUBLE[])), 8) AS cos_r
             FROM a, b),
      fwd AS MATERIALIZED (SELECT a_id, b_id, cos_r,
                row_number() OVER (PARTITION BY a_id
                                   ORDER BY cos_r DESC, b_id) AS rk
              FROM sc),
      ma AS (SELECT a_id, AVG(cos_r) AS ma FROM fwd WHERE rk <= 4 GROUP BY a_id),
      rev AS (SELECT b_id, cos_r,
                row_number() OVER (PARTITION BY b_id
                                   ORDER BY cos_r DESC, a_id) AS rk
              FROM sc),
      mb AS (SELECT b_id, AVG(cos_r) AS mb FROM rev WHERE rk <= 4 GROUP BY b_id),
      exa AS MATERIALIZED (
        SELECT a_id, b_id
        FROM (SELECT a_id, b_id, cos_r FROM fwd WHERE rk = 1) t
        JOIN ma USING (a_id) JOIN mb USING (b_id)
        WHERE round(cos_r / (0.5 * ma + 0.5 * mb), 6) > 1.2)
      SELECT CAST((SELECT COUNT(*) FROM landed) AS BIGINT) AS n_pairs,
             CAST(COALESCE((SELECT SUM(CASE WHEN cos_r <> cr THEN 1 ELSE 0 END)
               FROM r), 0) AS BIGINT) AS n_cos_mismatch,
             CAST(COALESCE((SELECT SUM(CASE WHEN accepted THEN 1 ELSE 0 END)
               FROM landed), 0) AS BIGINT) AS n_accepted,
             CAST((SELECT COUNT(*) FROM exa) AS BIGINT) AS n_exact_accepted,
             CAST((SELECT COUNT(*) FROM exa
                   JOIN landed l2 ON l2.a_id = exa.a_id
                     AND l2.b_id = exa.b_id AND l2.accepted) AS BIGINT)
               AS n_accept_hits""",

    "p64_split_leakage" -> s"""
      WITH sh AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
        FROM (SELECT doc_id, $duckToks AS toks FROM documents)
        WHERE len(toks) >= 3),
      sp AS (
        SELECT doc_id,
               CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val'
                    ELSE 'test' END AS split
        FROM (SELECT doc_id,
                ('0x' || substr(md5('graft-split:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                  / 4294967296.0 AS u
              FROM documents))
      SELECT a.doc_id AS i, b.doc_id AS j,
             sa.split AS split_i, sb.split AS split_j,
             CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
               / len(list_distinct(a.s || b.s)) AS jaccard
      FROM sh a, sh b, sp sa, sp sb
      WHERE a.doc_id < b.doc_id
        AND sa.doc_id = a.doc_id AND sb.doc_id = b.doc_id
        AND sa.split <> sb.split
        AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
              / len(list_distinct(a.s || b.s)) >= 0.5
      ORDER BY i, j""",

    "p63_interval_overlap" -> """
      WITH iv AS (SELECT user_id, date_trunc('day', ts) AS day,
                         min(ts) AS s, max(ts) AS e
                  FROM events GROUP BY 1, 2)
      SELECT a.day, CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(date_diff('microsecond', greatest(a.s, b.s),
                                least(a.e, b.e)) // 1000000) AS BIGINT) AS overlap_s
      FROM iv a JOIN iv b
        ON a.day = b.day AND a.user_id < b.user_id
       AND a.s <= b.e AND b.s <= a.e
      GROUP BY a.day ORDER BY a.day""",

    "p60_gap_fill" -> """
      WITH e AS (SELECT user_id, date_trunc('hour', ts) AS hr, ts, event_id, value
                 FROM events WHERE user_id < 30),
      hv AS (SELECT user_id, hr, value AS v FROM (
               SELECT user_id, hr, value,
                      row_number() OVER (PARTITION BY user_id, hr
                                         ORDER BY ts DESC, event_id DESC) AS rn
               FROM e) WHERE rn = 1),
      span AS (SELECT user_id, min(hr) AS lo, max(hr) AS hi FROM e GROUP BY 1),
      grid AS (SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr
               FROM span),
      j AS (SELECT g.user_id, g.hr, hv.v
            FROM grid g LEFT JOIN hv ON g.user_id = hv.user_id AND g.hr = hv.hr)
      SELECT user_id, hr AS bucket_ts,
             round(last_value(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY hr
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS value_ff,
             v IS NOT NULL AS had_event
      FROM j ORDER BY user_id, bucket_ts""",

    "p15_asof_join" -> """
      WITH c AS (SELECT user_id, ts, max(event_id) AS click_id
                 FROM events WHERE event_type = 'click' GROUP BY 1, 2),
           p AS (SELECT event_id, user_id, ts FROM events
                 WHERE event_type = 'purchase')
      SELECT p.event_id, p.user_id, p.ts, c.click_id,
             CAST(date_diff('microsecond', c.ts, p.ts) AS BIGINT) AS gap_us
      FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
      ORDER BY p.event_id""",

    "p16_pii_scrub" -> s"""
      WITH a AS (
        SELECT doc_id,
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@example.com via 10.0.'
                    || CAST(doc_id % 256 AS VARCHAR) || '.'
                    || CAST(doc_id % 100 AS VARCHAR)
                    || ' tel 555-123-'
                    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS aug
        FROM documents),
      s AS (
        SELECT doc_id, aug,
               regexp_replace(
                 regexp_replace(
                   regexp_replace(aug, '${TextOps.EmailRe}', '[EMAIL]', 'g'),
                   '${TextOps.PhoneRe}', '[PHONE]', 'g'),
                 '${TextOps.Ipv4Re}', '[IP]', 'g') AS scrubbed
        FROM a)
      SELECT doc_id,
             CAST(len(regexp_extract_all(aug, '${TextOps.EmailRe}')) AS BIGINT) AS n_email,
             CAST(len(regexp_extract_all(aug, '${TextOps.PhoneRe}')) AS BIGINT) AS n_phone,
             CAST(len(regexp_extract_all(aug, '${TextOps.Ipv4Re}')) AS BIGINT) AS n_ip,
             md5(scrubbed) AS scrub_md5,
             CAST(length(scrubbed) AS BIGINT) AS scrub_len
      FROM s ORDER BY doc_id""",

    "p17_embedding_quantize" -> """
      WITH s1 AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
                         CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      s2 AS (SELECT vec_id, label, emb,
             greatest(list_max(list_transform(emb, x -> abs(x))), 1e-12) / 127.0 AS scale
             FROM s1),
      s3 AS (SELECT vec_id, label, emb, scale,
             list_transform(emb, x -> floor(x / scale + 0.5) * scale) AS deq
             FROM s2)
      SELECT vec_id, label,
             round(list_cosine_similarity(emb, deq), 6) AS cos_q,
             round(list_reduce(list_transform(range(1, len(emb) + 1),
                     i -> abs(emb[i] - deq[i])), (a, b) -> a + b) / len(emb), 9) AS mae_q,
             round(scale * 127.0, 6) AS max_abs
      FROM s3 ORDER BY vec_id""",

    "p18_split_sample" -> """
      WITH b AS (
        SELECT doc_id, source,
          ('0x' || substr(md5('graft-split:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
            / 4294967296.0 AS u,
          ('0x' || substr(md5('graft-mix:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
            / 4294967296.0 AS um,
          list_extract([1.0, 0.75, 0.5, 0.25],
            CAST(regexp_extract(source, '(\d+)', 1) AS INT) % 4 + 1) AS rate
        FROM documents)
      SELECT source,
             CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val'
                  ELSE 'test' END AS split,
             COUNT(*) AS n_docs,
             CAST(SUM(CASE WHEN um < rate THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             CAST(SUM(CASE WHEN um < rate THEN doc_id ELSE 0 END) AS BIGINT) AS kept_id_sum
      FROM b GROUP BY 1, 2 ORDER BY 1, 2""",

    "p19_token_packing" -> s"""
      WITH t AS (
        SELECT source, doc_id,
               CAST(len(regexp_extract_all(lower(text), '${TextOps.BpePattern}')) AS BIGINT) AS toks
        FROM documents),
      c AS (
        SELECT source, doc_id, toks,
               SUM(toks) OVER (PARTITION BY source ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) AS cum
        FROM t)
      SELECT source, CAST(floor((cum - toks) / 512.0) AS BIGINT) AS bin,
             COUNT(*) AS n_docs, CAST(SUM(toks) AS BIGINT) AS bin_tokens
      FROM c GROUP BY 1, 2 ORDER BY 1, 2""",

    "p20_decontaminate" -> s"""
      WITH sh AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
        FROM (SELECT doc_id, $duckToks AS toks FROM documents)
        WHERE len(toks) >= 3),
      e AS (SELECT * FROM sh WHERE doc_id % 20 = 7),
      t AS (SELECT * FROM sh WHERE doc_id % 20 <> 7)
      SELECT t.doc_id AS train_id, e.doc_id AS eval_id,
             CAST(len(list_intersect(t.s, e.s)) AS BIGINT) AS n_common,
             round(CAST(len(list_intersect(t.s, e.s)) AS DOUBLE) / len(e.s), 6) AS overlap
      FROM t, e
      WHERE CAST(len(list_intersect(t.s, e.s)) AS DOUBLE) / len(e.s) >= 0.5
      ORDER BY train_id, eval_id""",

    "m01_image_neardup" -> s"""
      SELECT a.id AS i, b.id AS j,
             CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
      FROM read_parquet('$outRoot/image_sigs/*.parquet') a,
           read_parquet('$outRoot/image_sigs/*.parquet') b
      WHERE a.id < b.id AND bit_count(xor(a.sig, b.sig)) <= 3
      ORDER BY i, j""",

    "m02_video_frames" -> """
      WITH m AS (SELECT doc_id AS media_id, 10 + doc_id % 7 AS nf
                 FROM documents WHERE doc_id < 100),
      f AS (SELECT media_id, nf, unnest(range(0, nf, 3)) AS frame_idx FROM m),
      b AS (SELECT media_id, nf, frame_idx, unnest(range(0, 64)) AS i FROM f)
      SELECT media_id,
             CAST(nf AS BIGINT) AS n_frames,
             CAST(frame_idx AS BIGINT) AS frame_idx,
             round(AVG(CAST((media_id * 31 + frame_idx * 7 + i) % 256 AS DOUBLE)), 4)
               AS mean_byte
      FROM b GROUP BY 1, 2, 3 ORDER BY media_id, frame_idx""",

    "p103_epoch_shuffle" -> """
      WITH e AS (SELECT doc_id, ep FROM documents, (VALUES (0), (1)) t(ep)),
      k AS (SELECT doc_id, ep,
              ('0x' || substr(md5('eshuf:' || doc_id || '#' || ep), 1, 8))::BIGINT
                / 4294967296.0 AS k
            FROM e),
      s AS (SELECT doc_id, ep, k, CAST(floor(k * 8) AS BIGINT) AS shard FROM k),
      g AS (SELECT ep, shard, doc_id, k,
              abs(doc_id - lag(doc_id) OVER
                (PARTITION BY ep, shard ORDER BY k, doc_id)) AS gap
            FROM s)
      SELECT CAST(ep AS BIGINT) AS epoch, shard,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             round(AVG(gap), 4) AS mean_gap,
             round(MIN(k), 6) AS k_lo, round(MAX(k), 6) AS k_hi
      FROM g GROUP BY 1, 2 ORDER BY 1, 2""",

    "m05_avi_mjpeg_frames" -> """
      WITH m AS (SELECT doc_id AS media_id, 6 + doc_id % 5 AS nf
                 FROM documents WHERE doc_id < 60),
      f AS (SELECT media_id, nf, unnest(range(0, nf, 2)) AS frame_idx FROM m)
      SELECT media_id,
             CAST(nf AS BIGINT) AS n_frames,
             CAST(frame_idx AS BIGINT) AS frame_idx,
             round(CAST((media_id * 37 + frame_idx * 11) % 236 + 10 AS DOUBLE), 4)
               AS mean_byte
      FROM f ORDER BY media_id, frame_idx""",

    "m06_mpeg1_frames" -> """
      WITH m AS (SELECT doc_id AS media_id,
                        4 + doc_id % 3 AS nf,
                        (doc_id * 29) % 200 + 20 AS l0
                 FROM documents WHERE doc_id < 60),
      f AS (SELECT media_id, nf, l0, unnest(range(0, nf)) AS fi FROM m)
      SELECT media_id,
             CAST(nf AS BIGINT) AS n_frames,
             CAST(fi AS BIGINT) AS frame_idx,
             round(CAST(l0 + CASE WHEN fi <= 1 THEN 0
                                  WHEN fi = 2 THEN 5
                                  WHEN fi <= 4 THEN 7.5
                                  ELSE 12.5 END AS DOUBLE), 4) AS mean_byte
      FROM f ORDER BY media_id, frame_idx""",

    "p21_audio_decode" -> """
      SELECT doc_id AS media_id,
             CAST(8000 AS BIGINT) AS sample_rate,
             CAST(1 AS BIGINT) AS channels,
             CAST(1000 + (doc_id % 5) * 500 AS BIGINT) AS n_frames,
             round((1000 + (doc_id % 5) * 500) / 8000.0, 6) AS duration_s
      FROM documents WHERE doc_id < 50 ORDER BY media_id""",

    "m04_audio_vad" -> """
      SELECT doc_id AS media_id,
             true AS decoded,
             CAST(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 2 END AS BIGINT)
               AS n_segments,
             CAST(CASE WHEN doc_id % 2 = 0 THEN 300 ELSE 200 END AS BIGINT)
               AS active_ms,
             CAST(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 100 END AS BIGINT)
               AS first_ms,
             CAST(CASE WHEN doc_id % 2 = 0 THEN 500 ELSE 400 END AS BIGINT)
               AS last_ms
      FROM documents WHERE doc_id < 40 ORDER BY media_id""",

    "p22_range_join" -> """
      WITH inc AS (
        SELECT event_id AS incident_id, ts AS start_ts,
               ts + INTERVAL 10 MINUTE AS end_ts
        FROM events WHERE event_type = 'error'
        ORDER BY value DESC, event_id LIMIT 20)
      SELECT incident_id, COUNT(*) AS n_events,
             COUNT(DISTINCT e.user_id) AS n_users,
             ROUND(CAST(SUM(e.value) AS DOUBLE), 4) AS sum_value
      FROM inc JOIN events e ON e.ts >= inc.start_ts AND e.ts <= inc.end_ts
      GROUP BY 1 ORDER BY 1""",

    "p23_attribution" -> """
      SELECT p.event_id AS purchase_id, p.user_id,
             p.ts AS purchase_ts, c.event_id AS click_id,
             CAST(date_diff('microsecond', c.ts, p.ts) AS BIGINT) / 1000000 AS gap_s
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON p.user_id = c.user_id
       AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 30 MINUTE
      ORDER BY purchase_id, click_id""",

    "p12_bpe_tokens" -> s"""
      SELECT source,
             COUNT(*) AS n_docs,
             CAST(SUM(len(bt)) AS BIGINT) AS n_subwords,
             AVG(len(bt)) AS avg_subwords,
             CAST(SUM(len(list_distinct(bt))) AS BIGINT) AS sum_distinct
      FROM (SELECT source,
                   regexp_extract_all(lower(text), '${TextOps.BpePattern}') AS bt
            FROM documents)
      GROUP BY source ORDER BY source""",

    "p09_embedding_neardup" -> s"""
      SELECT COUNT(*) AS n_pairs,
             CAST(COALESCE(SUM(CASE WHEN round(list_cosine_similarity(
                 CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) < 0.45
               THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_below,
             COALESCE(MIN(round(list_cosine_similarity(
               CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6)), 0.0) AS min_cos,
             (SELECT COUNT(*) FROM embeddings a2, embeddings b2
              WHERE a2.vec_id < b2.vec_id AND a2.vec_id < 500
                AND round(list_cosine_similarity(CAST(a2.embedding AS DOUBLE[]),
                                                 CAST(b2.embedding AS DOUBLE[])), 6) >= 0.45)
               AS n_true_probe
      FROM read_parquet('$outRoot/neardup_pairs/*.parquet') p
      JOIN embeddings a ON a.vec_id = p.i
      JOIN embeddings b ON b.vec_id = p.j""",

    // full cross-set cosine field re-derived brute-force; argmax ties
    // break to the lowest eval_id on both engines
    "p68_semantic_decontaminate" -> """
      WITH ev AS (SELECT vec_id, embedding FROM embeddings
                  WHERE vec_id % 10 = 7 AND vec_id < 2000),
      tr AS (SELECT vec_id, embedding FROM embeddings
             WHERE vec_id % 10 <> 7),
      sims AS (
        SELECT t.vec_id AS train_id, e.vec_id AS eval_id,
               round(list_cosine_similarity(CAST(t.embedding AS DOUBLE[]),
                                            CAST(e.embedding AS DOUBLE[])), 6)
                 AS cos_r
        FROM tr t, ev e),
      mx AS (SELECT train_id, MAX(cos_r) AS max_sim
             FROM sims GROUP BY train_id)
      SELECT m.train_id, m.max_sim,
             (SELECT MIN(s.eval_id) FROM sims s
              WHERE s.train_id = m.train_id AND s.cos_r = m.max_sim) AS eval_id,
             m.max_sim >= 0.45 AS contaminated
      FROM mx m ORDER BY train_id""",

    // every rule's violation count recomputed independently
    "p69_expectations" -> """
      WITH counts AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
          CAST(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS v_null,
          CAST(SUM(CASE WHEN lang NOT IN ('en','de','fr','es')
                        THEN 1 ELSE 0 END) AS BIGINT) AS v_lang,
          CAST(SUM(CASE WHEN COALESCE(n_chars, 0) < 100
                        THEN 1 ELSE 0 END) AS BIGINT) AS v_minlen,
          CAST(SUM(CASE WHEN n_chars <> length(text)
                        THEN 1 ELSE 0 END) AS BIGINT) AS v_cons,
          CAST(SUM(CASE WHEN source NOT LIKE 'src%'
                        THEN 1 ELSE 0 END) AS BIGINT) AS v_src,
          CAST(SUM(CASE WHEN text IS NULL OR length(text) = 0
                        THEN 1 ELSE 0 END) AS BIGINT) AS v_empty,
          CAST(COUNT(*) - COUNT(DISTINCT doc_id) AS BIGINT) AS v_uq
        FROM documents)
      SELECT rule, n_rows, n_violations, n_violations = 0 AS pass
      FROM (
        SELECT 'doc_id_not_null' AS rule, n_rows, v_null AS n_violations
          FROM counts
        UNION ALL SELECT 'lang_allowed', n_rows, v_lang FROM counts
        UNION ALL SELECT 'min_length_100', n_rows, v_minlen FROM counts
        UNION ALL SELECT 'n_chars_consistent', n_rows, v_cons FROM counts
        UNION ALL SELECT 'source_prefix', n_rows, v_src FROM counts
        UNION ALL SELECT 'text_nonempty', n_rows, v_empty FROM counts
        UNION ALL SELECT 'unique_doc_id', n_rows, v_uq FROM counts)
      ORDER BY rule""",

    // ONE-phase aggregate over the same rows: salting must be invisible
    // in the result (decimal sums are order-independent)
    "p70_salted_agg" -> """
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
             MIN(user_id) AS min_user, MAX(user_id) AS max_user
      FROM events GROUP BY event_type ORDER BY event_type""",

    // the same sign hash and fold, coordinate by coordinate; e[j] is
    // 1-indexed in DuckDB where Spark's lambda j is 0-indexed
    "p71_random_projection" -> """
      WITH pr AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      yy AS (
        SELECT vec_id, e,
               list_transform(generate_series(0, 15), i ->
                 list_sum(list_transform(generate_series(1, 64), j ->
                   CASE WHEN (((((i * 64 + (j - 1)) * 1103 + 12345) % 2039)
                               * (((i * 64 + (j - 1)) * 1103 + 12345) % 2039)
                               + ((i * 64 + (j - 1)) * 1103 + 12345) % 2039
                               + i * 31 + (j - 1) * 7) % 4093) % 2 = 0
                        THEN e[j] ELSE -e[j] END)) / sqrt(16.0)) AS y
        FROM pr)
      SELECT vec_id,
             round(y[1], 6) AS y0, round(y[2], 6) AS y1,
             round(y[3], 6) AS y2, round(y[4], 6) AS y3,
             round(sqrt(list_sum(list_transform(y, v -> v * v)))
                   / sqrt(list_sum(list_transform(e, v -> v * v))), 6)
               AS norm_ratio
      FROM yy ORDER BY vec_id""",

    // the same closed-form water-filling, windows over the per-lang
    // aggregate; capped prefix criterion restated verbatim
    "p72_unimax_mix" -> """
      WITH pl AS (
        SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS chars
        FROM documents GROUP BY lang),
      tot AS (SELECT 1.6 * SUM(chars) AS b FROM pl),
      r AS (
        SELECT lang, chars, CAST(chars AS DOUBLE) * 2.0 AS cap,
               row_number() OVER (ORDER BY CAST(chars AS DOUBLE) * 2.0,
                                  lang) AS i,
               COUNT(*) OVER () AS m,
               COALESCE(SUM(CAST(chars AS DOUBLE) * 2.0) OVER (
                 ORDER BY CAST(chars AS DOUBLE) * 2.0, lang
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0)
                 AS pfx
        FROM pl),
      c AS (
        SELECT r.*, (SELECT b FROM tot) AS b,
               cap * (m - i + 1) <= (SELECT b FROM tot) - pfx AS capped
        FROM r),
      agg AS (
        SELECT COALESCE(SUM(CASE WHEN capped THEN cap END), 0.0) AS cmass,
               COALESCE(SUM(CASE WHEN capped THEN 1 END), 0) AS ncap
        FROM c)
      SELECT c.lang, c.chars, c.cap, c.capped,
             round(CASE WHEN c.capped THEN c.cap
                        ELSE (c.b - agg.cmass) / (c.m - agg.ncap) END, 4)
               AS alloc,
             round(CASE WHEN c.capped THEN c.cap
                        ELSE (c.b - agg.cmass) / (c.m - agg.ncap) END
                   / CAST(c.chars AS DOUBLE), 6) AS epochs
      FROM c, agg ORDER BY c.lang""",

    // the naive theta join, verbatim — the rewrite must be exact
    "p73_rangejoin_rewrite" -> """
      WITH l AS (
        SELECT event_id AS l_id, epoch_us(ts) AS l_s,
               epoch_us(ts) + (user_id % 5 + 1) * 1800000000 AS l_e
        FROM events WHERE event_id % 7 = 0),
      r AS (
        SELECT event_id AS r_id, epoch_us(ts) AS r_s,
               epoch_us(ts) + (user_id % 5 + 1) * 900000000 AS r_e
        FROM events WHERE event_id % 11 = 0)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(l_id * 31 + r_id) AS BIGINT) AS pair_checksum,
             CAST(SUM(CASE WHEN l_id = r_id THEN 1 ELSE 0 END) AS BIGINT)
               AS n_self,
             CAST(MAX(r_e - l_s) AS BIGINT) AS max_span_us
      FROM l, r WHERE l_s <= r_e AND r_s <= l_e""",

    // the clustering re-derived from the landed edge set with a
    // recursive CTE; per-modality edge mass joined back on the label
    "m03_crossmodal_dedup" -> s"""
      WITH RECURSIVE e AS (
        SELECT i, j, is_img, is_txt
        FROM read_parquet('$outRoot/xmodal_edges/*.parquet')),
      edges AS (SELECT i AS a, j AS b FROM e UNION SELECT j, i FROM e),
      reach(v, l) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e2.a, r.l FROM edges e2 JOIN reach r ON e2.b = r.v),
      lab AS (SELECT v, MIN(l) AS cluster FROM reach GROUP BY v),
      sizes AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS size,
                       MAX(v) AS max_member
                FROM lab GROUP BY cluster),
      em AS (SELECT lab.cluster,
                    CAST(COUNT(*) AS BIGINT) AS n_edges,
                    CAST(SUM(e.is_img) AS BIGINT) AS n_img_edges,
                    CAST(SUM(e.is_txt) AS BIGINT) AS n_txt_edges
             FROM e JOIN lab ON e.i = lab.v GROUP BY lab.cluster)
      SELECT s.cluster, s.size, s.max_member,
             em.n_edges, em.n_img_edges, em.n_txt_edges
      FROM sizes s JOIN em ON em.cluster = s.cluster
      ORDER BY s.cluster"""
  )
}
