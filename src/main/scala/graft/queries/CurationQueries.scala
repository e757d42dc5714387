package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryModule, Tables}
import graft.pipeline.{Ann, Clean, Dedup, EntityRes, LangId, Lm, Mixing, Privacy, Rank, Series, TextOps}

/** Round-6 corpus-curation operators: C4-style line cleaning, Bloom-
  * prefiltered decontamination, SemDeDup, cross-document duplicated-span
  * profiling, temperature-weighted source mixing, and web-scale
  * (large-star/small-star) connected components. Same discipline as
  * PipelineQueries: every entry is bucketed/broadcast/scan-local on the
  * engine side — no O(n²) stage — while the DuckDB oracle may brute-force
  * at sf0.01.
  */
object CurationQueries extends QueryModule {

  private val outRoot = s"${graft.Land.root}/curation"
  private def docs(s: SparkSession, dir: String) =
    Tables.spread(Tables.t(s, dir, "documents"))
  private def embs(s: SparkSession, dir: String) =
    Tables.spread(Tables.t(s, dir, "embeddings"))

  /** The synthetic corpus is single-line and boilerplate-free, so the
    * C4 query first AUGMENTS each doc with deterministic doc_id-derived
    * lines that exercise every rule (the p16 PII pattern); the identical
    * expression runs in the oracle. concat_ws skips the null branch. */
  private def c4Aug = {
    val lineA = concat(col("text"), lit("."))
    val lineB = when(col("doc_id") % 3 === 0,
      lit("please enable javascript and accept cookies to continue."))
      .otherwise(lit("the quick brown fox jumps over the lazy dog."))
    val lineC = when(col("doc_id") % 4 === 0, lit("click here now."))
      .otherwise(lit("another perfectly reasonable sentence appears right here."))
    val lineD = when(col("doc_id") % 5 === 0,
      lit("this line has no terminal punctuation at all"))
      .otherwise(lit("a final good line to close the document."))
    val lineE = when(col("doc_id") % 2 === 0, lineA)
      .otherwise(concat(lit("unique closing remark number "),
        col("doc_id").cast("string"), lit(".")))
    val lineF = when(col("doc_id") % 50 === 17, lit("lorem ipsum dolor sit amet."))
    concat_ws("\n", lineA, lineB, lineC, lineD, lineE, lineF)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- C4-style line cleaning: scan-local, per-rule drop accounting,
    //      within-doc first-occurrence line dedup, doc-level gates --------
    "p27_c4_clean" -> ((s, dir) => {
      val d = docs(s, dir)
      Clean.c4Lines(d.select(col("doc_id"), c4Aug.as("text")), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // ---- Bloom-prefiltered decontamination: identical pair set to exact
    //      containment (no false negatives — the oracle brute-forces the
    //      same containment), train postings screened by a broadcast bit
    //      table before ever reaching the join ---------------------------
    "p28_bloom_decontaminate" -> ((s, dir) => {
      val d = docs(s, dir)
      val probe = d.filter(col("doc_id") % 20 === 13)
      val train = d.filter(col("doc_id") % 20 =!= 13)
      val raw = Dedup.bloomContaminationPairs(train, probe, "doc_id", "text",
          threshold = 0.5)
        .withColumn("overlap", round(col("overlap"), 6))
      val out = if (!graft.Gates.enabled) raw else {
        // persisted: the no-false-negative gate and the returned frame are
        // separate actions — unpersisted, the bloom join would run twice
        val o = graft.operators.Broadcasts.trackedPersist(raw)
        // in-query no-false-negative gate (scale-independent — the oracle's
        // full containment recompute is sf0.01-only): the EXACT path over a
        // bounded eval-id prefix must be a subset of the bloom-screened
        // result; a bloom false negative is precisely a missing pair here
        val exactSub = Dedup.contaminationPairs(train,
          probe.filter(col("doc_id") < 2000), "doc_id", "text", threshold = 0.5)
          .select("train_id", "eval_id")
        val missed = exactSub
          .join(o.select("train_id", "eval_id"),
            Seq("train_id", "eval_id"), "left_anti").count()
        require(missed == 0L,
          s"bloom prefilter produced $missed false negative(s) on the probe prefix")
        o
      }
      out.orderBy("train_id", "eval_id")
    }),

    // ---- SemDeDup: KMeans cells landed to parquet, within-cell cosine
    //      pairs; the oracle recomputes the within-cell pair set and drop
    //      counts from the LANDED assignments + raw embeddings -----------
    "p29_semdedup" -> ((s, dir) => {
      val e = embs(s, dir)
      val cells = Ann.kmeansCells(e, nCells = 16)
      cells.write.mode("overwrite").parquet(s"$outRoot/sem_cells")
      val landed = s.read.parquet(s"$outRoot/sem_cells")
      val pairs = Ann.semDedupPairs(e, landed, threshold = 0.45)
      val perCell = landed.groupBy("cell").agg(count(lit(1)).as("n_vecs"))
      val pairAgg = pairs.groupBy("cell").agg(
        count(lit(1)).as("n_pairs"),
        countDistinct(col("j")).as("n_dropped"))
      perCell.join(pairAgg, Seq("cell"), "left")
        .select(col("cell"), col("n_vecs"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          coalesce(col("n_dropped"), lit(0L)).as("n_dropped"))
        .orderBy("cell")
    }),

    // ---- duplicated-span profile: per-doc fraction of 8-token windows
    //      appearing in ≥2 docs — two skinny aggregates, no pairs --------
    "p30_dup_spans" -> ((s, dir) => {
      val d = docs(s, dir)
      val prof = Dedup.dupSpanProfile(d, "doc_id", "text", window = 8)
        .withColumnRenamed("id", "doc_id")
      d.select(col("doc_id")).join(prof, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_windows"), lit(0L)).as("n_windows"),
          coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
          round(coalesce(col("dup_frac"), lit(0.0)), 6).as("dup_frac"))
        .orderBy("doc_id")
    }),

    // ---- temperature-weighted source mixing: rate table from one tiny
    //      aggregate, deterministic hashUnit keep decisions --------------
    "p31_temperature_mix" -> ((s, dir) => {
      val d = docs(s, dir)
      val counts = d.groupBy("source").agg(count(lit(1)).as("n_docs"))
      val rates = Mixing.temperatureRates(counts, "source", "n_docs",
        tau = 0.7, targetFrac = 0.5)
      d.join(broadcast(rates.select("source", "rate")), "source")
        .withColumn("u", Mixing.hashUnit(col("doc_id"), "graft-temp"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          round(max(col("rate")), 9).as("rate"),
          sum(when(col("u") < col("rate"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("u") < col("rate"), col("doc_id")).otherwise(0L))
            .as("kept_id_sum"))
        .orderBy("source")
    }),

    // ---- incremental dedup: a "new batch" (doc_id % 3 == 2) checked
    //      against a LANDED minhash index of the existing corpus — the
    //      corpus is banded once, the batch is the only full scan, and
    //      verification re-shingles candidate old docs only. Oracle =
    //      brute-force cross-set Jaccard (planted dups are high-sim, so
    //      banding recall is total — the p04 argument) ------------------
    "p35_incremental_dedup" -> ((s, dir) => {
      val d = docs(s, dir)
      val oldDocs = d.filter(col("doc_id") % 3 =!= 2)
      val newDocs = d.filter(col("doc_id") % 3 === 2)
      Dedup.minhashIndex(oldDocs, "doc_id", "text")
        .write.mode("overwrite").parquet(s"$outRoot/mh_index")
      val index = s.read.parquet(s"$outRoot/mh_index")
      val raw = Dedup.incrementalMinhashPairs(newDocs, index, oldDocs,
        "doc_id", "text", threshold = 0.5)
      val out = if (!graft.Gates.enabled) raw else {
        val o = graft.operators.Broadcasts.trackedPersist(raw)
        o.count() // materialize before the probe (p80 discipline)
        // banded-recall FLOOR (sf1 tier: the brute-force pair oracle is
        // sf0.01-only): EXACT shingle-Jaccard truth for a broadcast
        // new-doc prefix against ALL old docs — linear in the corpus —
        // must be ≥99%-covered by the landed-index pairs. NOT an exact
        // subset: the (r=4, b=16) banding's S-curve midpoint is
        // (1/16)^(1/4) = 0.5 — exactly this query's threshold — so a pair
        // AT J=0.5 has ~35% candidate-miss probability BY DESIGN, and the
        // first sf1 run of the exact-subset form duly failed on 1 such
        // boundary pair. The floor still catches systematic breakage
        // (parameter drift, seed mismatch ⇒ 100% miss) at any scale.
        val truth = graft.operators.Broadcasts.trackedPersist(
          Dedup.jaccardProbeTruth(Dedup.hashedShingled(newDocs, "doc_id", "text"),
            Dedup.hashedShingled(oldDocs, "doc_id", "text"),
            probeMaxId = 450, threshold = 0.5)
            .select(col("i").as("new_id"), col("j").as("old_id")))
        val nTruth = truth.count()
        val missed = truth.join(o.select("new_id", "old_id"),
          Seq("new_id", "old_id"), "left_anti").count()
        require(missed * 100 <= nTruth,
          s"incremental index recall below 99%: missed $missed of $nTruth " +
            "probe-prefix true pair(s)")
        o
      }
      out.orderBy("new_id", "old_id")
    }),

    // ---- the END-TO-END curation story: C4 clean → exact-dedup
    //      canonical keep → decontaminate vs a probe set → deterministic
    //      split, folded to per-(source, split) corpus accounting — the
    //      composition a real training-data run executes, as ONE lazy
    //      plan (no landing between stages) ----------------------------
    "p36_curation_pipeline" -> ((s, dir) => {
      val d = docs(s, dir)
      val aug = d.select(col("doc_id"), col("source"), c4Aug.as("text"))
      val cleaned = Clean.c4Lines(aug, "doc_id", "text")
        .filter(col("doc_keep")).select("doc_id")
      // canonical keep: min doc_id per exact-duplicate group (on the RAW
      // text so the aug lines don't mask planted duplicates)
      val canonical = Dedup.exactGroups(d, "doc_id", "text")
        .select(col("keep_id").as("doc_id"))
      // decontamination: drop docs containing an eval probe (overlap ≥ 0.5
      // vs the % 20 == 7 probe set, the p20 convention)
      val probe = d.filter(col("doc_id") % 20 === 7)
      val train = d.filter(col("doc_id") % 20 =!= 7)
      val contaminated = Dedup.contaminationPairs(train, probe, "doc_id", "text",
        threshold = 0.5).select(col("train_id").as("doc_id")).distinct()
      val keptRaw = d.join(cleaned, Seq("doc_id"), "left_semi")
        .join(canonical, Seq("doc_id"), "left_semi")
        .filter(col("doc_id") % 20 =!= 7)
        .join(contaminated, Seq("doc_id"), "left_anti")
      val kept = if (!graft.Gates.enabled) keptRaw else {
        val k = graft.operators.Broadcasts.trackedPersist(keptRaw)
        // decontamination losslessness gate (the p80/p28 discipline — this
        // query's oracle brute-forces the full containment join and is
        // sf0.01-only): EXACT containment (dfCap=0) against a broadcast
        // probe PREFIX — linear in the corpus — must find NO surviving doc
        // still carrying ≥ threshold of a prefix probe; a dfCap-lost pair
        // whose train doc survived would trip it at any scale
        val truthIds = Dedup.contaminationPairs(train,
            probe.filter(col("doc_id") < 150), "doc_id", "text",
            threshold = 0.5, dfCap = 0)
          .select(col("train_id").as("doc_id")).distinct()
        val leaked = k.join(truthIds, Seq("doc_id"), "left_semi").count()
        require(leaked == 0L,
          s"decontamination leak: $leaked surviving doc(s) still contain a " +
            "probe-prefix eval item")
        k
      }
      kept
        .withColumn("split", Mixing.splitAssign(
          Mixing.hashUnit(col("doc_id"), "graft-split")))
        .groupBy("source", "split")
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
        .orderBy("source", "split")
    }),

    // ---- BPE merge induction: corpus-wide adjacent pre-token pair
    //      counts, global top-k over the aggregated pair table ----------
    "p33_bpe_merges" -> ((s, dir) => {
      Lm.bpeMergeCandidates(docs(s, dir), "text", k = 30).orderBy("rank")
    }),

    // ---- unigram-LM cross-entropy quality score (CCNet's perplexity
    //      filter shape; the corpus's own unigram model stands in for
    //      the external LM): model aggregate broadcast back over the
    //      token stream, one per-doc rollup ------------------------------
    "p34_unigram_nll" -> ((s, dir) => {
      Lm.unigramNll(docs(s, dir), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_toks"),
          round(col("avg_nll"), 6).as("avg_nll"))
        .orderBy("doc_id")
    }),

    // ---- CCNet-style perplexity bucketing: per-LANGUAGE unigram model,
    //      per-doc NLL, rank-split each language into head/middle/tail
    //      tertiles (NLL rounded to 1e-6 before ranking so rank order is
    //      engine-independent); reported per (lang, bucket) -------------
    "p40_perplexity_buckets" -> ((s, dir) => {
      Lm.perplexityBuckets(docs(s, dir), "doc_id", "lang", "text", nBuckets = 3)
        .groupBy(col("grp").as("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("nll")), 6).as("bucket_nll"))
        .orderBy("lang", "bucket")
    }),

    // ---- multilingual language ID routing CCNet bucketing: a char-
    //      bigram multinomial NB model (trained on the built-in seed
    //      corpus — skinny (lang, gram, logp) table, broadcast) classifies
    //      PLANTED per-language texts (deterministic suffix slices of the
    //      seed sentences keyed by doc_id — 7 held-out-ish variants per
    //      language the oracle re-derives with substr), an in-query
    //      require pins router accuracy at 100% on the plant, then p40's
    //      perplexityBuckets machinery buckets per PREDICTED language —
    //      the langid→per-language-LM composition CCNet actually runs ---
    "p104_langid_route" -> ((s, dir) => {
      val d = docs(s, dir)
      val langArr = array(LangId.Seeds.map(x => lit(x._1)): _*)
      val seedArr = array(LangId.Seeds.map(x => lit(x._2)): _*)
      val idx = (col("doc_id") % 5 + 1).cast("int")
      val planted = d.select(col("doc_id"),
        element_at(langArr, idx).as("lang_true"),
        element_at(seedArr, idx)
          .substr(lit(1) + (col("doc_id") % 7).cast("int"), lit(100000))
          .as("text"))
      // persisted: the accuracy require and the bucket rollup are
      // separate actions — unpersisted, the gram-explode classification
      // would run twice
      val pred = graft.operators.Broadcasts.trackedPersist(
        LangId.classify(planted, "doc_id", "text", LangId.seedModel(s))
          .withColumnRenamed("id", "doc_id"))
      val routed = planted.join(pred, "doc_id")
      graft.Gates.run {
        val wrong = routed.filter(col("lang_true") =!= col("lang_pred")).count()
        require(wrong == 0L,
          s"language router misclassified $wrong planted docs — the seed " +
            "model must recover every planted suffix slice")
      }
      Lm.perplexityBuckets(routed.select(col("doc_id"), col("lang_pred"),
          col("text")), "doc_id", "lang_pred", "text", nBuckets = 3)
        .groupBy(col("grp").as("lang_pred"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("nll")), 6).as("bucket_nll"))
        .orderBy("lang_pred", "bucket")
    }),

    // ---- per-source distribution drift: KL(source ‖ corpus) over
    //      unigram distributions — corpus monitoring without reading a
    //      single document; two skinny aggregates + one broadcast join --
    "p39_source_drift" -> ((s, dir) => {
      Lm.sourceDrift(docs(s, dir), "source", "text")
        .select(col("source"), col("n_toks"), round(col("kl"), 6).as("kl"))
        .orderBy("source")
    }),

    // ---- duplicated-span REMOVAL (enforcement half of p30's profile):
    //      tokens under any cross-doc duplicated 8-window are cut and the
    //      doc rebuilt; the oracle rebuilds set-based (NOT EXISTS over
    //      duplicated window starts) and compares md5s -------------------
    "p38_dup_span_removal" -> ((s, dir) => {
      Dedup.dupSpanRemoval(docs(s, dir), "doc_id", "text", window = 8)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    // ---- exact-k per-stratum sampling: keep EXACTLY 10 docs per source,
    //      chosen by deterministic hash order (the fixed-size eval-set
    //      builder; rate-based p18 can't hit an exact count). The
    //      rank-limit filter compiles to a WindowGroupLimit below the
    //      shuffle in Spark 4 (partial top-k per map partition), so the
    //      sort never materializes a stratum ------------------------------
    "p37_stratified_topk" -> ((s, dir) => {
      val d = docs(s, dir)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("u"), col("doc_id"))
      d.select(col("doc_id"), col("source"),
          Mixing.hashUnit(col("doc_id"), "graft-sample").as("u"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 10)
        .select("source", "rk", "doc_id")
        .orderBy("source", "rk")
    }),

    // ---- DSIR importance weights: hashed unigram+bigram buckets,
    //      target = English docs, Laplace-smoothed target/raw bucket
    //      models, per-doc Σ log-ratio — the importance-resampling score
    //      that fits a raw crawl to a target distribution -----------------
    "p42_dsir_weights" -> ((s, dir) => {
      Mixing.dsirLogWeights(docs(s, dir), "doc_id", "text",
          isTarget = col("lang") === "en", buckets = 1024)
        .select(col("id").as("doc_id"), col("n_feats"), col("log_w"))
        .orderBy("doc_id")
    }),

    // ---- near-dup canonical keep: the full dedup decision — minhash
    //      pairs (landed so the oracle sees the identical pair set) →
    //      connected components → keep the best doc per cluster (score =
    //      n_chars, ties to the smallest id). The oracle re-derives the
    //      clusters with a recursive CTE and the keep with ROW_NUMBER ----
    "p41_neardup_keep" -> ((s, dir) => {
      val d = docs(s, dir)
      val pairs = Dedup.minhashPairs(d, "doc_id", "text",
        k = 64, bands = 16, threshold = 0.5)
      pairs.write.mode("overwrite").parquet(s"$outRoot/keep_pairs")
      val landed = s.read.parquet(s"$outRoot/keep_pairs")
      val labels = Dedup.connectedComponents(landed)
      Dedup.canonicalKeep(labels, d, "doc_id", "n_chars")
        .orderBy("doc_id")
    }),

    // ---- web-scale connected components: consecutive-id chains of ~250
    //      nodes (diameter FAR above any per-hop propagation round budget
    //      — the case that NEEDS star contraction); the oracle derives the
    //      same components analytically via gaps-and-islands -------------
    "p32_cc_largestar" -> ((s, dir) => {
      val d = docs(s, dir)
      val ids = d.select(col("doc_id").as("j"))
      val edges = d.filter(col("doc_id") % 250 =!= 249)
        .select(col("doc_id").as("i"), (col("doc_id") + 1).as("j"))
        .join(ids, Seq("j"), "left_semi")
        .select("i", "j")
      Dedup.connectedComponents(edges)
        .groupBy(col("lbl").as("cluster"))
        .agg(count(lit(1)).as("size"), max(col("v")).as("max_member"))
        .orderBy("cluster")
    }),

    // ---- sliding-window chunking: fixed-token-budget shards with
    //      overlap (the pretraining/RAG chunk step). Chunk ids explode
    //      BEFORE the token slice so the tokenizer runs once per doc,
    //      not once per chunk (see Chunking's plan-shape note) ----------
    "p44_chunk_overlap" -> ((s, dir) => {
      graft.pipeline.Chunking.chunkSliding(docs(s, dir), "doc_id", "text",
          window = 32, stride = 24)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "chunk_id")
    }),

    // ---- per-doc top-3 TF-IDF keywords: three skinny aggregates off
    //      one token stream, vocab joins broadcast, score rounded to
    //      1e-6 before ranking so engines rank identically --------------
    "p45_tfidf_topk" -> ((s, dir) => {
      Lm.tfidfTopK(docs(s, dir), "doc_id", "text", k = 3)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "rk")
    }),

    // ---- Unicode canonicalization (graft_nfc / graft_strip_accents
    //      compiled kernels): the same logical text arrives composed AND
    //      decomposed from the web; un-normalized it fingerprints as two
    //      documents. The ASCII corpus is augmented with a deterministic
    //      accent suffix (one precomposed, one decomposed variant) so
    //      the kernels' composition/strip behavior is actually exercised
    //      and cross-checked against DuckDB's nfc_normalize/strip_accents
    "p46_unicode_norm" -> ((s, dir) => {
      graft.functions.NormalizeExprs.register(s)
      val aug = concat(col("text"),
        when(col("doc_id") % 3 === 0,                     // precomposed \u00e9
            lit(" caf\u00e9 touch\u00e9"))
          .when(col("doc_id") % 3 === 1,                  // e + combining \u0301
            lit(" cafe\u0301 touche\u0301"))
          .otherwise(lit(" plain ascii")))
      docs(s, dir).select(col("doc_id"),
          aug.as("aug"),
          call_function("graft_nfc", aug).as("nfc"))
        .select(col("doc_id"),
          md5(col("nfc")).as("nfc_md5"),
          (col("aug") =!= col("nfc")).as("changed_nfc"),
          md5(call_function("graft_strip_accents", col("aug"))).as("ascii_md5"))
        .orderBy("doc_id")
    }),

    // ---- weighted epoch resampling: keep each doc with probability
    //      proportional to its weight (here n_chars — token-budget
    //      sampling; swap in a DSIR/quality weight unchanged), capped at
    //      1, decided by the same salted unit hash as p18 — scan-local
    //      except one broadcast scalar (Σ weight), exactly reproducible
    "p47_weighted_resample" -> ((s, dir) => {
      val d = docs(s, dir)
      val tot = d.agg(sum(col("n_chars")).cast("double").as("tot"))
      d.crossJoin(broadcast(tot))
        .withColumn("p",
          least(lit(1.0), lit(100.0) * col("n_chars").cast("double") / col("tot")))
        .filter(Mixing.hashUnit(col("doc_id"), "graft-resample") < col("p"))
        .select(col("doc_id"), round(col("p"), 6).as("p_keep"))
        .orderBy("doc_id")
    }),

    // ---- GLOBAL line dedup (RefinedWeb/FineWeb's cross-corpus
    //      boilerplate pass — the complement of p27's within-doc rules):
    //      a line in ≥5 distinct docs is removed everywhere. Skinny
    //      (line-hash, doc) distinct → count → hot-only join back ------
    "p48_global_line_dedup" -> ((s, dir) => {
      Clean.globalLineDedup(
          docs(s, dir).select(col("doc_id"), lineAug.as("text")),
          "doc_id", "text", maxDocs = 5)
        .orderBy("doc_id")
    }),

    // ---- corpus snapshot DELTA (dataset versioning: what changed
    //      between two corpus versions): full-outer join on id comparing
    //      content fingerprints → added/removed/changed/same accounting.
    //      The fingerprint join carries (id, 32-char md5) rows only —
    //      never text — so the diff costs two fingerprint scans plus one
    //      skinny shuffle at any corpus size -----------------------------
    "p56_corpus_delta" -> ((s, dir) => {
      val d = docs(s, dir)
      // deterministic synthetic v2: drop doc_id%17==3, modify %17==5,
      // add shifted ids above the max — the oracle applies the same edits
      val v1 = d.select(col("doc_id"), col("text"))
      val v2 = d.filter(col("doc_id") % 17 =!= 3)
        .select(col("doc_id"),
          when(col("doc_id") % 17 === 5, concat(col("text"), lit(" v2 edit")))
            .otherwise(col("text")).as("text"))
        .unionByName(d.filter(col("doc_id") % 17 === 7)
          .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
      val f1 = v1.select(col("doc_id"), graft.pipeline.TextOps.fingerprint(col("text")).as("fp1"))
      val f2 = v2.select(col("doc_id"), graft.pipeline.TextOps.fingerprint(col("text")).as("fp2"))
      f1.join(f2, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          when(col("fp1").isNull, "added")
            .when(col("fp2").isNull, "removed")
            .when(col("fp1") =!= col("fp2"), "changed")
            .otherwise("same").as("status"))
        .groupBy("status")
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy("status")
    }),

    // ---- per-domain char-budget cap (greedy knapsack per source): the
    //      "no domain dominates" guard (C4 per-URL, RefinedWeb per-
    //      domain) — rank docs inside each source by length desc, keep
    //      while the running char total fits the budget. ONE window
    //      shuffle keyed by source, all-integer keep decision, then the
    //      per-source accounting aggregate ------------------------------
    "p57_domain_budget_cap" -> ((s, dir) => {
      val capped = Mixing.charBudgetCap(
        docs(s, dir).select("doc_id", "source", "n_chars"),
        "source", "n_chars", "doc_id", budget = 4000L)
      capped.groupBy("source")
        .agg(sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("kept"), 0L).otherwise(1L)).as("n_dropped"),
          sum(when(col("kept"), col("n_chars")).otherwise(0L)).as("kept_chars"))
        .orderBy("source")
    }),

    // ---- PageRank centrality weighting (fixed 3-round power iteration
    //      over a deterministic doc_id-derived link graph — Common Crawl
    //      publishes exactly this kind of rank for corpus filtering).
    //      Engine: Rank.pageRank's iterative skinny shuffles; oracle:
    //      the SAME three rounds unrolled as chained CTEs. Dangling mass
    //      leaks by pinned semantics; scores rounded to 1e-9 (fp noise
    //      from cross-engine sum order is ~1e-18) and ranked by the
    //      ROUNDED score + id so ordering cannot diverge ----------------
    "p58_pagerank_weights" -> ((s, dir) => {
      val d = docs(s, dir)
      val n = d.count()
      val nodes = d.select(col("doc_id").as("id"))
      val raw = Seq((31L, 1L), (131L, 2L), (211L, 3L))
        .map { case (p, k) =>
          nodes.select(col("id").as("src"), ((col("id") * p + k) % n).as("dst")) }
        .reduce(_ unionByName _)
      val edges = raw.filter(col("src") =!= col("dst"))
        .join(nodes.select(col("id").as("dst")), Seq("dst"), "left_semi")
        .distinct()
      Rank.pageRank(nodes, edges, iters = 3)
        .select(col("id").as("doc_id"), round(col("score"), 9).as("pr"))
        .orderBy(col("pr").desc, col("doc_id"))
        .limit(20)
    }),

    // ---- BM25 top-k retrieval (lexical corpus search, the RAG baseline
    //      beside the ANN family): postings pruned by the broadcast
    //      query vocabulary, df/N/avgdl broadcast back, one per-(query,
    //      doc) rollup, WindowGroupLimit top-10; score rounded to 1e-6
    //      before ranking, ties to id ----------------------------------
    "p53_bm25_topk" -> ((s, dir) => {
      Lm.bm25TopK(docs(s, dir), "doc_id", "text",
          queries = Seq(1 -> "hash join", 2 -> "fast scan filter",
            3 -> "window agg customer"),
          k = 10)
        .withColumnRenamed("id", "doc_id")
        .orderBy("query_id", "rk")
    }),

    // ---- right-to-be-forgotten retraction: delete a takedown batch
    //      from the LANDED minhash index by one skinny anti-join — the
    //      index is the only artifact rewritten; a loud in-query guard
    //      proves no deleted id survives, and the oracle re-derives the
    //      retained per-band accounting from the ORIGINAL landed index
    //      plus the delete predicate --------------------------------------
    "p52_index_retraction" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.minhashIndex(d, "doc_id", "text")
        .write.mode("overwrite").parquet(s"$outRoot/retr_index")
      val index = s.read.parquet(s"$outRoot/retr_index")
      val deletes = d.filter(col("doc_id") % 10 === 3).select("doc_id")
      Dedup.retractFromIndex(index, deletes, "doc_id")
        .write.mode("overwrite").parquet(s"$outRoot/retr_retained")
      val landed = s.read.parquet(s"$outRoot/retr_retained")
      graft.Gates.run {
        val leaked = landed.join(deletes.withColumnRenamed("doc_id", "id"),
          Seq("id"), "left_semi").count()
        require(leaked == 0, s"retraction leak: $leaked index rows for deleted docs")
      }
      landed.groupBy("band")
        .agg(count(lit(1)).as("n_entries"),
          countDistinct(col("id")).as("n_docs"))
        .orderBy("band")
    }),

    // ---- interpolated bigram-LM cross-entropy (KenLM-lite upgrade of
    //      p34): bigram model shuffle-joined on the pair key, unigram
    //      back-off broadcast; <2-token docs emit no row on BOTH sides --
    "p49_bigram_nll" -> ((s, dir) => {
      Lm.bigramNll(docs(s, dir), "doc_id", "text", lambda = 0.7)
        .select(col("id").as("doc_id"), col("n_bigrams"),
          round(col("avg_nll"), 6).as("avg_nll"))
        .orderBy("doc_id")
    }),

    // ---- LSH banding planner: the S-curve P(candidate|s) = 1−(1−s^r)^b
    //      for every (bands, rows) split of the k=64 signature, its
    //      closed-form balance point s* (P=0.5), and the integrated
    //      false-positive / false-negative masses around the 0.5 target
    //      — the decision table that justifies minhashPairs' bands=16
    //      default (s*≈0.546, the fp/fn knee on this grid). Pure
    //      computation, identical arithmetic on both engines; rounded to
    //      1e-6 so libm pow ulp differences cannot surface -------------
    "p67_lsh_plan" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import s.implicits._
      val w = Window.partitionBy("bands")
      Seq(4, 8, 16, 32).toDF("bands")
        .crossJoin((1 to 19).toDF("i"))
        .select(col("bands").cast("long").as("bands"),
          (lit(64) / col("bands")).cast("long").as("r"),
          (col("i") / lit(20.0)).as("sim"))
        .withColumn("p_cand",
          lit(1.0) - pow(lit(1.0) - pow(col("sim"), col("r")), col("bands")))
        .withColumn("s_star",
          pow(lit(1.0) - pow(lit(0.5), lit(1.0) / col("bands")),
            lit(1.0) / col("r")))
        .withColumn("fp_mass", sum(
          when(col("sim") < 0.5, col("p_cand") / 20.0).otherwise(0.0)).over(w))
        .withColumn("fn_mass", sum(
          when(col("sim") >= 0.5, (lit(1.0) - col("p_cand")) / 20.0)
            .otherwise(0.0)).over(w))
        .select(col("bands"), col("r"), round(col("sim"), 6).as("sim"),
          round(col("p_cand"), 6).as("p_cand"),
          round(col("s_star"), 6).as("s_star"),
          round(col("fp_mass"), 6).as("fp_mass"),
          round(col("fn_mass"), 6).as("fn_mass"))
        .orderBy("bands", "sim")
    }),

    // ---- URL → registrable-domain (eTLD+1) accounting: the grouping
    //      step every web-curation pipeline keys on (per-domain budgets,
    //      blocklists, dedup scopes group by eTLD+1, never raw host).
    //      The corpus has no URLs, so each doc gets a deterministic
    //      doc_id-derived URL (the p16 augment pattern, identical
    //      expression in the oracle); the operator under test is the
    //      host parse + multi-label public-suffix split + blocklist
    //      anti-join — all scan-local string expressions + one skinny
    //      aggregate on the domain key ---------------------------------
    "p66_url_domains" -> ((s, dir) => {
      val d = docs(s, dir)
      val tld = element_at(array(lit(".com"), lit(".org"), lit(".net"),
        lit(".co.uk"), lit(".io")), (col("doc_id") % 5 + 1).cast("int"))
      val sub = when(col("doc_id") % 3 === 0, lit("www."))
        .when(col("doc_id") % 7 === 0, lit("cdn.static."))
        .otherwise(lit(""))
      val url = concat(lit("https://"), sub,
        lit("site"), (col("doc_id") % 40).cast("string"), tld,
        lit("/p/"), col("doc_id").cast("string"))
      val host = regexp_extract(url, "^https?://([^/]+)", 1)
      val parts = split(host, "\\.")
      val n = size(parts)
      // two-label public suffix (co.uk) keeps 3 labels, else keep 2
      val etld1 = when(host.endsWith(".co.uk"),
        concat_ws(".", element_at(parts, n - 2), lit("co"), lit("uk")))
        .otherwise(concat_ws(".", element_at(parts, n - 1), element_at(parts, n)))
      val blocklist = Seq("site7.com", "site13.org")
      d.select(col("doc_id"), col("n_chars"), host.as("host"), etld1.as("domain"))
        .filter(!col("domain").isin(blocklist: _*))
        .groupBy("domain")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          countDistinct(col("host")).as("n_hosts"))
        .orderBy("domain")
    }),

    // ---- vocabulary coverage / OOV audit: fix a top-V corpus vocab
    //      (frequency-ranked, ties on the token string so any engine
    //      draws the same boundary), then measure per-source coverage —
    //      the tokenizer-health check run before committing a vocab to
    //      training. The vocab is a BROADCAST (top-V is bounded by
    //      construction); token postings never self-join ---------------
    "p62_vocab_coverage" -> ((s, dir) => {
      val toks = docs(s, dir).select(col("source"),
        explode(TextOps.tokens(col("text"))).as("tok"))
      // top-500 by ORDER BY + LIMIT (TakeOrderedAndProject: partial
      // top-k per partition), never a single-partition rank window over
      // the Heaps-law-unbounded vocab table; only membership is needed
      val vocab = toks.groupBy("tok").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("tok")).limit(500)
        .select(col("tok"), lit(true).as("in_vocab"))
      toks.join(broadcast(vocab), Seq("tok"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"),
          countDistinct(when(col("in_vocab").isNull, col("tok"))).as("distinct_oov"))
        .withColumn("oov_rate",
          round(col("n_oov").cast("double") / col("n_tokens"), 6))
        .orderBy("source")
    }),

    // ---- hybrid retrieval with reciprocal-rank fusion: the production
    //      RAG shape — a lexical BM25 list and a vector cosine list for
    //      the SAME queries (query docs double as query vectors through
    //      the aligned doc_id/vec_id space), fused by Σ 1/(60 + rank).
    //      Rank lists are position-based, so the fusion needs no score
    //      calibration between the two retrievers — that is RRF's whole
    //      point — and each fused score is a sum of two exact small
    //      rationals, so the cross-engine compare is noise-free.
    //      Self-hits are excluded from BOTH lists (lexical side fetches
    //      k+1 then re-ranks). Driver-side collect = 3 query texts ------
    "p61_hybrid_rrf" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = docs(s, dir); val e = embs(s, dir)
      val qids = Seq(1L, 2L, 3L)
      val qtexts = d.filter(col("doc_id").isin(qids: _*))
        .select("doc_id", "text").collect()
        .map(r => r.getLong(0).toInt ->
          r.getString(1).trim.toLowerCase.split("\\s+").distinct.mkString(" "))
        .toSeq.sortBy(_._1)
      val bm = Lm.bm25TopK(d, "doc_id", "text", qtexts, k = 11)
        .filter(col("id") =!= col("query_id"))
        .withColumn("r_lex", row_number().over(
          Window.partitionBy("query_id").orderBy(col("score").desc, col("id")))
          .cast("long"))
        .filter(col("r_lex") <= 10)
        .select(col("query_id").cast("long").as("query_id"),
          col("id").as("doc_id"), col("r_lex"))
      val vec = Ann.bruteForceTopK(e, e.filter(col("vec_id").isin(qids: _*)), k = 10)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank").as("r_vec"))
      bm.join(vec, Seq("query_id", "doc_id"), "full_outer")
        .withColumn("rrf",
          coalesce(lit(1.0) / (lit(60.0) + col("r_lex")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60.0) + col("r_vec")), lit(0.0)))
        .withColumn("rk", row_number().over(
          Window.partitionBy("query_id").orderBy(col("rrf").desc, col("doc_id")))
          .cast("long"))
        .filter(col("rk") <= 10)
        .select(col("query_id"), col("rk"), col("doc_id"),
          round(col("rrf"), 9).as("rrf"))
        .orderBy("query_id", "rk")
    }),

    // ---- content-defined chunking dedup: boundaries from a compiled
    //      rolling-window hash (scan-local; nothing shuffles until the
    //      skinny (md5, len) aggregate), chunk-level duplicate mass
    //      accounting. total_chars doubles as the reconstruction proof:
    //      it must equal the corpus character count, and the oracle
    //      recomputes every boundary, slice, and hash from raw text ----
    "p59_cdc_chunk_dedup" -> ((s, dir) => {
      val ch = Dedup.cdcChunks(docs(s, dir), "doc_id", "text")
      val per = ch.groupBy("chunk_md5", "chunk_len")
        .agg(count(lit(1)).as("cnt"),
          countDistinct(col("doc_id")).as("n_docs"))
      per.agg(
        sum(col("cnt")).as("total_chunks"),
        count(lit(1)).as("distinct_chunks"),
        sum(col("cnt") - 1).as("dup_occurrences"),
        sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).as("cross_doc_chunks"),
        sum((col("cnt") - 1) * col("chunk_len")).as("dup_chars"),
        sum(col("cnt") * col("chunk_len")).as("total_chars"))
    }),

    // ---- per-key EWMA smoothing + residual anomaly flags: ONE window
    //      pass per user partition (a single hash exchange), W explicit
    //      lag taps instead of the sequential infinite-horizon
    //      recurrence (numerically exact, codegen'd, cross-engine) — the
    //      oracle states the identical tap algebra ----------------------
    "p74_ewma_anomaly" -> ((s, dir) => {
      val ev = Tables.t(s, dir, "events").filter(col("user_id") <= 30)
      Series.ewmaAnomaly(ev, "user_id", "ts", "event_id", "value",
        alpha = 0.4, taps = 8, tau = 60.0)
        .select(col("user_id"), unix_micros(col("ts")).as("t_us"),
          col("event_id"),
          col("x"), round(col("ewma"), 6).as("ewma"),
          round(col("ewma_prev"), 6).as("ewma_prev"),
          round(col("resid"), 6).as("resid"), col("is_anomaly"))
        .orderBy("user_id", "ts", "event_id")
    }),

    // ---- k-anonymity / l-diversity generalization ladder: the data-
    //      release counterpart of the reference's identifier anonymizer.
    //      Two skinny aggregates per level (rows→classes→one summary
    //      row); each coarser level's class table SHRINKS, and nothing
    //      but (QI..., sensitive) tuples ever shuffles. The sensitive
    //      attribute is a deterministic custkey-derived stand-in (the
    //      synthetic schema has no real one); the LADDER is the operator
    "p75_k_anonymity" -> ((s, dir) => {
      val c = Tables.t(s, dir, "customer")
      Privacy.kAnonymityLadder(c, Seq(
        Privacy.GenLevel("l0_nation_seg_bal500",
          Seq(col("c_nationkey"), col("c_mktsegment"),
            floor(col("c_acctbal") / 500))),
        Privacy.GenLevel("l1_nation_seg",
          Seq(col("c_nationkey"), col("c_mktsegment"))),
        Privacy.GenLevel("l2_seg", Seq(col("c_mktsegment")))),
        sensitive = col("c_custkey") % 5, k = 5, l = 3)
        .orderBy("level")
    }),

    // ---- blocking-based entity resolution: candidates ONLY inside an
    //      equi-joinable block key (never a similarity theta join), hot
    //      blocks capped LOUDLY into the accounting columns, edit-
    //      distance verify inside the block. The record set is derived
    //      deterministically from part attributes: distinct entity
    //      strings get ids (the one global row_number runs over a few
    //      hundred DISTINCT names — id assignment for the harness; real
    //      corpora arrive with ids), every 3rd entity gets a planted
    //      1-edit variant, and recall over the planted set is part of
    //      the output ------------------------------------------------
    "p76_entity_blocking" -> ((s, dir) => {
      val ents = Tables.t(s, dir, "part")
        .select(concat(col("p_name"), lit(" "), lower(col("p_type")),
          lit(" size "), col("p_size").cast("string")).as("nm"))
        .distinct()
      // entity table is corpus-linear — ids come from the DISTRIBUTED
      // global rank, not a single-partition row_number window; persisted
      // because the id frame fans out (originals + variants + recall
      // accounting) and r9's Ranks no longer caches its output
      val ids = graft.operators.Broadcasts.trackedPersist(
        graft.operators.Ranks.globalRowNumber(ents, "rn", col("nm")))
      val originals = ids.select((col("rn") * 2).as("id"), col("nm"))
      val variants = ids.filter(col("rn") % 3 === 0)
        .select((col("rn") * 2 + 1).as("id"),
          concat(substring(col("nm"), 1, 2), lit("x"),
            substring(col("nm"), 4, 1000)).as("nm"))
      val records = originals.unionAll(variants)
      val bk = concat(substring(col("nm"), 1, 2), lit("#"),
        length(col("nm")).cast("string"))
      val pairs = EntityRes.blockedPairs(records, "id", "nm", bk,
        maxEdits = 2, blockCap = 500)
      val account = EntityRes.blockCapAccount(records, "id", bk, blockCap = 500)
      val planted = variants.agg(count(lit(1)).as("n_planted"))
      val metrics = pairs.agg(
        count(lit(1)).as("n_pairs"),
        coalesce(sum(when(col("id_b") === col("id_a") + 1 &&
          col("id_a") % 2 === 0, 1L).otherwise(0L)), lit(0L)).as("n_true_pairs"))
      account.crossJoin(metrics).crossJoin(planted)
        .withColumn("recall",
          round(col("n_true_pairs").cast("double") / col("n_planted"), 6))
    }),

    // ---- Fellegi–Sunter match weights (p76's missing scoring half):
    //      blocked candidate pairs collapse into the ≤2^k comparison-
    //      pattern table (one skinny groupBy — states ≪ pairs), a
    //      deterministic 5-iteration EM (Winkler init, clamped M-steps)
    //      fits m/u/λ as bounded driver math, and the output is the
    //      per-pattern log-likelihood-ratio weight + match posterior.
    //      Blocking reuses p76's scale-proven key (2-char prefix +
    //      length — a coarser prefix-only key put every sf0.1 block
    //      over the cap and starved the EM); the γ fields are chosen to
    //      VARY inside those blocks (2nd token / last token / edit
    //      distance, never length, which the key fixes). The oracle
    //      re-derives the records, patterns, and all five EM iterations
    //      as unrolled CTEs (the p85 fixed-iteration pattern) ----------
    "p105_entity_em" -> ((s, dir) => {
      val ents = Tables.t(s, dir, "part")
        .select(concat(col("p_name"), lit(" "), lower(col("p_type")),
          lit(" size "), col("p_size").cast("string")).as("nm"))
        .distinct()
      val ids = graft.operators.Broadcasts.trackedPersist(
        graft.operators.Ranks.globalRowNumber(ents, "rn", col("nm")))
      val originals = ids.select((col("rn") * 2).as("id"), col("nm"))
      val variants = ids.filter(col("rn") % 3 === 0)
        .select((col("rn") * 2 + 1).as("id"),
          concat(substring(col("nm"), 1, 2), lit("x"),
            substring(col("nm"), 4, 1000)).as("nm"))
      val records = originals.unionAll(variants)
      val out = EntityRes.fsMatchWeights(records, "id", "nm",
        blockKey = concat(substring(col("nm"), 1, 2), lit("#"),
          length(col("nm")).cast("string")),
        comparators = Seq(
          // banded levenshtein: -1 means "provably > 2", so >= 0 is ≤ 2
          "lev2" -> ((x, y) => levenshtein(x.getField("nm"), y.getField("nm"), 2) >= 0),
          "tok2" -> ((x, y) => x.getField("t2") === y.getField("t2")),
          "last" -> ((x, y) => x.getField("tl") === y.getField("tl"))),
        iters = 5, blockCap = 500,
        // token features computed once per RECORD below the self-join
        // (VERDICT r13 item 7): the old comparators re-split BOTH names
        // on every pair, Σ|block|² times. Same values: element_at of the
        // same split, with identical null-to-disagree coalescing.
        pairView = nm => struct(nm.as("nm"),
          element_at(split(nm, " "), 2).as("t2"),
          element_at(split(nm, " "), -1).as("tl")))
        .orderBy("g_lev2", "g_tok2", "g_last")
      // the planted 1-edit variants must land in a HIGH-weight pattern:
      // the all-agree pattern's posterior separates from the all-disagree
      // pattern's — the unsupervised fit found the match/non-match mix
      // coalesce to sentinels: an absent pattern (tiny/filtered corpora)
      // must fail THIS require's diagnostic, not NPE in getDouble.
      // Gate-wrapped: the probe is a SEPARATE action over the un-persisted
      // result, so pricing it into bench re-runs the whole EM pipeline —
      // this was the query the r11 driver bench died inside.
      graft.Gates.run {
        val probe = out.agg(
          coalesce(max(when(col("g_lev2") && col("g_tok2") && col("g_last"),
            col("posterior"))), lit(-1.0)).as("hi"),
          coalesce(max(when(!col("g_lev2") && !col("g_tok2"),
            col("posterior"))), lit(2.0)).as("lo"))
          .head()
        require(probe.getDouble(0) > 0.9 && probe.getDouble(1) < 0.1,
          s"EM failed to separate match/non-match patterns (-1/2 = pattern " +
            s"absent): hi=${probe.getDouble(0)} lo=${probe.getDouble(1)}")
      }
      out
    }),

    // ---- exact triangle count by DEGREE ORIENTATION: the node-iterator
    //      whose wedge volume is bounded m^{3/2} regardless of hubs —
    //      the naive 2-path probe explodes quadratically on a power-law
    //      degree sequence. Edges = parts co-ordered in one order (the
    //      per-order pair fan-out is capped LOUDLY, same discipline as
    //      blockCap/dfCap); the oracle brute-forces the a<b<c triple
    //      join and recomputes every degree and wedge ------------------
    "p77_triangle_count" -> ((s, dir) => {
      // one groupBy builds the per-order part set; the ≤32-part pair
      // fan-out then happens INSIDE codegen (transform over the sorted
      // array), so the quadratic blowup never exists as join rows —
      // only the already-deduplicating edge `distinct` shuffles pairs.
      // Two consumers (edges + the cap accounting) → tracked persist.
      // spread: the single-row-group lineitem file otherwise feeds the
      // whole collect_set partial aggregation through one scan task
      val byOrder = graft.operators.Broadcasts.trackedPersist(
        Tables.spread(Tables.t(s, dir, "lineitem"))
          .groupBy(col("l_orderkey"))
          .agg(sort_array(collect_set(col("l_partkey"))).as("ps")))
      val edges = byOrder
        .filter(size(col("ps")) <= 32)
        .select(explode(flatten(transform(col("ps"), (x, i) =>
          transform(slice(col("ps"), i + 2, size(col("ps"))), y =>
            struct(x.as("u"), y.as("v")))))).as("e"))
        .select(col("e.u").cast("long").as("u"),
          col("e.v").cast("long").as("v"))
        .distinct()
      val acct = byOrder.agg(
        sum(when(size(col("ps")) <= 32, 1L).otherwise(0L)).as("n_orders_used"),
        sum(when(size(col("ps")) > 32, 1L).otherwise(0L)).as("n_orders_dropped"))
      acct.crossJoin(graft.pipeline.Graphs.triangleStats(edges))
    }),

    // ---- KMV bottom-k distinct sketch (custom TypedImperativeAggregate,
    //      O(k) mergeable state): ndv̂ = (k−1)/h_(k); the estimator
    //      arithmetic stays in the query so the oracle reproduces it
    //      bit-for-bit from the same md5 unit hashes. The error bound is
    //      REPORTED as a column (a statistical draw, deterministic given
    //      the salt — both engines compute the same boolean) -----------
    "p78_kmv_ndv" -> ((s, dir) => {
      graft.functions.KmvAgg.register(s)
      Tables.registerAll(s, dir)
      val sv_lineitem = Tables.spreadView(s, dir, "lineitem")
      s.sql(s"""
        WITH h AS (
          SELECT l_returnflag AS flag,
                 CAST(conv(substring(md5(concat('kmv:',
                   CAST(l_partkey AS STRING))), 1, 8), 16, 10) AS DOUBLE)
                   / CAST(4294967296 AS DOUBLE) AS u
          FROM ${sv_lineitem}),
        sk AS (
          SELECT flag, graft_kmv(u, 256) AS s,
                 COUNT(DISTINCT u) AS n_exact
          FROM h GROUP BY flag),
        est AS (
          SELECT flag, CAST(n_exact AS BIGINT) AS n_exact,
                 CASE WHEN s.n_min < 256 THEN CAST(s.n_min AS DOUBLE)
                      ELSE 255.0 / s.kth END AS e
          FROM sk)
        SELECT flag, n_exact, round(e, 6) AS est,
               round(abs(e - n_exact) / n_exact, 6) AS rel_err,
               abs(e - n_exact) / n_exact <= 0.25 AS within_bound
        FROM est ORDER BY flag""")
    }),

    // ---- first-order Markov transition matrix over per-user event
    //      paths: one lag window per key partition + one skinny count
    //      aggregate; Laplace row-normalization happens on the
    //      states×states table, never the event stream ----------------
    "p79_markov_transitions" -> ((s, dir) => {
      Series.markovTransitions(Tables.t(s, dir, "events"),
        "user_id", "ts", "event_id", "event_type")
        .orderBy("prev_state", "state")
    }),

    // ---- EXACT token-set Jaccard join by prefix filtering (AllPairs/
    //      PPJoin): candidates only where rarest-first prefixes share a
    //      token — lossless, unlike dfCap. The oracle brute-forces the
    //      full posting join, so result-set equality IS the proof that
    //      prefix pruning dropped nothing at sf0.01; the IN-QUERY gate
    //      below is the proof that survives any scale (the oracle's
    //      postings pair join is quadratic in hot-token df — Σdf² hit
    //      4.6e10 at the sf1 probe) -------------------------------------
    "p80_prefix_jaccard" -> ((s, dir) => {
      val d = docs(s, dir)
      val joined = Dedup.jaccardJoin(d, "doc_id", "text", 0.95, Dedup.WordSets)
      val rawPairs = joined.pairs
        .select(col("i"), col("j"), round(col("jaccard"), 6).as("jaccard"))
      val out = if (!graft.Gates.enabled) rawPairs
      else {
      // persisted: the losslessness gate's anti-join and the returned
      // frame are separate actions — unpersisted, the PPJoin's final
      // verify stage would run twice
      val outP = graft.operators.Broadcasts.trackedPersist(rawPairs)
      // Materialize out BEFORE building the probe: the gate's anti-join
      // is otherwise the first action on out, so the heavyweight
      // cands+verify chain would compute INTERLEAVED with the probe's
      // broadcast build, contending for the same cache (r10 bench
      // recorded 4x interleaved/solo on exactly this shape).
      outP.count()
      // losslessness probe (the p09 discipline): the exact pair set over
      // a broadcast id prefix — linear in the corpus — from the SAME
      // persisted docSets the join verified, and the join must have
      // found every one. Probe prefix 150: the corpus plants near-dup
      // mass uniformly in id space, so the low prefix carries thousands
      // of true pairs at sf0.1 already — and the gate's cost is
      // probeMax × corpus intersects (measured ~16 s at probeMax=500/
      // sf0.1, ~1.5 s here)
      val truth = Dedup.jaccardProbeTruth(joined.docSets, joined.docSets,
        probeMaxId = 150, threshold = 0.95).filter(col("i") < col("j"))
      val missed = truth
        .join(outP.select("i", "j"), Seq("i", "j"), "left_anti").count()
      require(missed == 0L,
        s"PPJoin losslessness violated: prefix pruning dropped $missed " +
          "probe-prefix pair(s)")
      outP
      }
      out.orderBy("i", "j")
    }),

    // ---- KMV set-operation estimates FROM SKETCHES ALONE: bottom-k of
    //      a union from the two bottom-k arrays, Jaccard from union-
    //      sketch membership (any union minimum belonging to A is in
    //      A's array: h ≤ h_(k)(A∪B) ≤ h_(k)(A)) — the composability
    //      HLL registers don't give. Truth recomputed from raw sets in
    //      the same query; the oracle re-derives BOTH paths -----------
    "p81_kmv_setops" -> ((s, dir) => {
      graft.functions.KmvAgg.register(s)
      Tables.registerAll(s, dir)
      val sv_lineitem = Tables.spreadView(s, dir, "lineitem")
      s.sql(s"""
        WITH h AS (
          SELECT l_orderkey % 3 AS shard,
                 CAST(conv(substring(md5(concat('kmv:',
                   CAST(l_partkey AS STRING))), 1, 8), 16, 10) AS DOUBLE)
                   / CAST(4294967296 AS DOUBLE) AS u
          FROM ${sv_lineitem} WHERE l_orderkey % 3 <= 1),
        sk AS (
          SELECT graft_kmv_mins(CASE WHEN shard = 0 THEN u END, 256) AS a,
                 graft_kmv_mins(CASE WHEN shard = 1 THEN u END, 256) AS b
          FROM h),
        ex0 AS (
          SELECT u, max(CASE WHEN shard = 0 THEN 1 ELSE 0 END) AS ia,
                 max(CASE WHEN shard = 1 THEN 1 ELSE 0 END) AS ib
          FROM h GROUP BY u),
        ex AS (
          SELECT CAST(SUM(ia) AS BIGINT) AS na,
                 CAST(SUM(ib) AS BIGINT) AS nb,
                 CAST(COUNT(*) AS BIGINT) AS nu,
                 CAST(SUM(ia * ib) AS BIGINT) AS ni
          FROM ex0),
        est AS (
          SELECT a, b,
                 slice(array_sort(array_distinct(concat(a, b))), 1, 256) AS uk
          FROM sk)
        SELECT ex.na, ex.nb, ex.nu, ex.ni,
               round(CASE WHEN size(uk) < 256 THEN CAST(size(uk) AS DOUBLE)
                          ELSE 255.0 / element_at(uk, 256) END, 6) AS nu_est,
               round(CAST(size(filter(uk, x ->
                 array_contains(a, x) AND array_contains(b, x))) AS DOUBLE)
                 / size(uk), 6) AS j_est,
               round(CAST(ex.ni AS DOUBLE) / ex.nu, 6) AS j_exact
        FROM est CROSS JOIN ex""")
    }),

    // ---- exact two-sample KS drift per event_type vs global: both
    //      ECDFs jump only at observed values, so sup|F_g − F| is exact
    //      on the global value grid; two skinny aggregates + one window
    //      per group over grid×groups rows ----------------------------
    "p82_ks_drift" -> ((s, dir) => {
      Series.ksDrift(Tables.t(s, dir, "events"), "event_type", "value",
        threshold = 0.1)
        .orderBy("g")
    }),

    // ---- PSI (population stability index) per event_type between
    //      event_id-parity snapshots: the fixed-bin drift score whose
    //      cost is independent of value cardinality — one bounded
    //      PER-GROUP min/max fixes each group's bin edges (global edges
    //      would blind the score to drift inside a narrow-range group),
    //      ONE scan into a (group, snap, bin) map-side-combinable
    //      count, smoothed-share KL algebra on the bounded grid.
    //      `drifted` compares the unrounded score (the p82 lesson) ----
    "p101_psi_drift" -> ((s, dir) => {
      Series.psiDrift(Tables.t(s, dir, "events"), "event_type", "value",
        col("event_id") % 2, bins = 10, threshold = 0.05)
        .orderBy("g")
    }),

    // ---- count-min-sketch heavy-hitter frequencies: the FREQUENCY
    //      member of the mergeable-sketch family (bitmap=membership,
    //      HLL/KMV=cardinality, KLL=quantiles, SpaceSaving=top-k ids,
    //      CMS=point counts). Spark's codegen'd count_min_sketch agg
    //      builds the d×w counter grid map-side (state is eps/conf-
    //      bounded, never vocab-linear — the structural win over an
    //      exact vocab count at 10^9 tokens); the 20 point queries
    //      deserialize the ~KB sketch once on the driver. Guards: CMS
    //      never undercounts, and overshoot ≤ 2·ε·N (2× the one-sided
    //      ε·N @ 99% guarantee — deterministic for a fixed seed, the
    //      cushion absorbs the 20-query union bound). Emitted columns
    //      are the EXACT counts, so the oracle is engine-independent --
    "p102_cms_heavyhitters" -> ((s, dir) => {
      val toks = docs(s, dir)
        .select(explode(TextOps.tokens(col("text"))).as("tok"))
      // vocab-linear counts feed the top-k AND the total: one corpus
      // aggregate, two bounded consumers
      val counts = graft.operators.Broadcasts.trackedPersist(
        toks.groupBy("tok").agg(count(lit(1)).as("cnt")))
      // TakeOrderedAndProject (partial top-k per partition), never a
      // rank window over the Heaps-law-unbounded vocab
      val top = counts.orderBy(col("cnt").desc, col("tok")).limit(20).collect()
      val nTotal = counts.agg(sum(col("cnt"))).head().getLong(0)
      val eps = 1e-4; val conf = 0.99; val seed = 42
      val skBytes = toks
        .agg(count_min_sketch(col("tok"), lit(eps), lit(conf), lit(seed)))
        .head().getAs[Array[Byte]](0)
      val cms = org.apache.spark.util.sketch.CountMinSketch
        .readFrom(new java.io.ByteArrayInputStream(skBytes))
      val slack = math.ceil(2 * eps * nTotal).toLong
      val rows = top.map { r =>
        val (tok, cnt) = (r.getString(0), r.getLong(1))
        val est = cms.estimateCount(tok)
        require(est >= cnt, s"CMS undercounted '$tok': $est < $cnt")
        require(est <= cnt + slack,
          s"CMS overshoot on '$tok': $est > $cnt + $slack (n=$nTotal)")
        org.apache.spark.sql.Row(tok, cnt, true)
      }
      import scala.jdk.CollectionConverters._
      s.createDataFrame(rows.toSeq.asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("tok", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("cnt", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("within_bound", org.apache.spark.sql.types.BooleanType))))
        .orderBy("tok")
    }),

    // ---- rendezvous-hashing placement + rebalance audit: HRW's defining
    //      property is MINIMAL MOVEMENT on resize (expected 1/(n+1) of
    //      keys when n→n+1, vs ~everything for mod-hashing), and the
    //      assignment is scan-local — placement never costs a shuffle of
    //      the data being placed. The grouped audit here is the ONLY
    //      exchange, and it ships (shard, flag) pairs -------------------
    "p83_rendezvous_shards" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = docs(s, dir).select(col("doc_id"))
        .withColumn("shard_before",
          Mixing.rendezvousShard(col("doc_id"), 4, "rdz"))
        .withColumn("shard_after",
          Mixing.rendezvousShard(col("doc_id"), 5, "rdz"))
      d.groupBy("shard_before")
        .agg(count(lit(1)).as("n"),
          sum(when(col("shard_before") =!= col("shard_after"), 1L)
            .otherwise(0L)).as("n_moved"))
        .withColumn("moved_frac",
          round(col("n_moved").cast("double") / col("n"), 6))
        .withColumn("total_moved_frac",
          round(sum(col("n_moved")).over(Window.partitionBy(lit(0)))
            .cast("double") /
            sum(col("n")).over(Window.partitionBy(lit(0))), 6))
        .orderBy("shard_before")
    }),

    // ---- Merkle-style corpus digest: per-bucket order-independent
    //      digests + one root — integrity verification whose re-check
    //      after an edit touches ONE bucket, not the corpus. The planted
    //      single-doc edit is recomputed alongside: exactly one bucket
    //      digest changes and the root flips ---------------------------
    "p84_merkle_digest" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""
        WITH v AS (
          SELECT doc_id, text,
                 CASE WHEN doc_id = 42 THEN concat(text, ' [edited]')
                      ELSE text END AS text2
          FROM documents),
        r AS (
          SELECT CAST(conv(substring(md5(concat('mk:',
                   CAST(doc_id AS STRING))), 1, 8), 16, 10) AS BIGINT)
                   % 64 AS bucket,
                 CAST(CAST(conv(substring(md5(concat(
                   CAST(doc_id AS STRING), ':', text)), 1, 12), 16, 10)
                   AS BIGINT) AS DECIMAL(38,0)) AS h_a,
                 CAST(CAST(conv(substring(md5(concat(
                   CAST(doc_id AS STRING), ':', text2)), 1, 12), 16, 10)
                   AS BIGINT) AS DECIMAL(38,0)) AS h_b
          FROM v),
        bkt AS (
          SELECT bucket,
                 CAST(sum(h_a) % 281474976710656 AS BIGINT) AS dg_a,
                 CAST(sum(h_b) % 281474976710656 AS BIGINT) AS dg_b
          FROM r GROUP BY bucket)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
               CAST(SUM(CASE WHEN dg_a <> dg_b THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_buckets_changed,
               md5(array_join(transform(
                 array_sort(collect_list(struct(bucket, dg_a))),
                 x -> CAST(x.dg_a AS STRING)), ',')) AS root_a,
               md5(array_join(transform(
                 array_sort(collect_list(struct(bucket, dg_b))),
                 x -> CAST(x.dg_b AS STRING)), ',')) AS root_b,
               md5(array_join(transform(
                 array_sort(collect_list(struct(bucket, dg_a))),
                 x -> CAST(x.dg_a AS STRING)), ',')) <>
               md5(array_join(transform(
                 array_sort(collect_list(struct(bucket, dg_b))),
                 x -> CAST(x.dg_b AS STRING)), ',')) AS root_changed
        FROM bkt""")
    }),

    // ---- Markov removal-effect attribution: journeys as an absorbing
    //      chain START → channels → {CONV, DROP}; each channel scored by
    //      the conversion mass lost when routed through DROP. Heavy work
    //      = ONE windowed scan into a |states|²-row count table; the
    //      K-step absorption runs on that bounded metadata. The oracle
    //      unrolls the SAME finite-horizon recursion relationally ------
    "p85_markov_attribution" -> ((s, dir) => {
      Series.markovAttribution(Tables.t(s, dir, "events"),
        "user_id", "ts", "event_id", "event_type",
        convState = "purchase", steps = 16)
        .orderBy("channel")
    }),

    // ---- leakage-free GROUP split: the FIX for what p64 audits. Split
    //      assignment hashes the near-dup CLUSTER label (exact prefix-
    //      Jaccard pairs → connected components), not the doc id, so a
    //      near-dup pair can never straddle train/eval — n_crossing is
    //      the in-query proof and must be 0 --------------------------
    "p86_group_split" -> ((s, dir) =>
      groupSplitDf(s, dir)),

    // ---- the SAME leakage-free split, kept as its own contract entry
    //      (p86 and p88 once ran different CC strategies; both now call
    //      the one Dedup.connectedComponents, so they share one oracle
    //      and the same labels) ------------------------------------
    "p88_group_split_star" -> ((s, dir) =>
      groupSplitDf(s, dir)),

    // ---- the SAME leakage-free split fed by MINHASH pairs (banded LSH
    //      candidates + exact-Jaccard verify): the landed sub-quadratic
    //      pair source for web corpora where exact prefix postings go
    //      hot (SCALE.md's candidate-volume guard names exact-Jaccard as
    //      the structural exception). Similarity = 3-gram shingle
    //      Jaccard (Broder's shingling, the standard near-dup measure) —
    //      NOT token-set: this corpus's token-set pair-J distribution is
    //      a dense near-clique (19% of ALL pairs above 0.8, measured),
    //      so token-set banding degenerates to the all-pairs join no
    //      parameter choice can save (105 s at sf0.1), while 3-gram J is
    //      bimodal (~0 or ≥0.9) and LSH prunes structurally. The ORACLE
    //      brute-forces the SAME 3-gram pair set — oracle-green PROVES
    //      the banded path recalled every ≥0.9 pair (band miss prob at
    //      J=0.9 with r=4,b=16 is 4e-8) and the crossing==0 proof is
    //      unchanged ------------------------------------------------
    "p97_group_split_minhash" -> ((s, dir) =>
      groupSplitDf(s, dir,
        d => Dedup.minhashPairs(d, "doc_id", "text",
          k = 64, bands = 16, threshold = 0.9, shingleN = 3))),

    // ---- EXACT-proportion stratified split: rank-cut per stratum at
    //      exact counts (hash split is exact only in expectation — a
    //      small stratum can land 70/30). Output carries the expected
    //      floor counts next to the realized ones, so exactness is a
    //      visible column equality, recomputed independently by DuckDB --
    "p90_exact_stratified_split" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val sp = Mixing.exactStratifiedSplit(docs(s, dir), "doc_id", "source",
        "xsplit")
      sp.groupBy("stratum", "split").agg(count(lit(1)).as("n"))
        .withColumn("n_stratum",
          sum(col("n")).over(Window.partitionBy("stratum")))
        .withColumn("exp_n",
          when(col("split") === "train",
            floor(col("n_stratum") * lit(0.8) + lit(1e-9)))
            .when(col("split") === "val",
              floor(col("n_stratum") * lit(0.9) + lit(1e-9)) -
                floor(col("n_stratum") * lit(0.8) + lit(1e-9)))
            .otherwise(col("n_stratum") -
              floor(col("n_stratum") * lit(0.9) + lit(1e-9))))
        .select(col("stratum"), col("split"), col("n"),
          col("n_stratum"), col("exp_n"))
        .orderBy("stratum", "split")
    }),

    // ---- weighted sampling WITHOUT replacement (Efraimidis–Spirakis
    //      A-Res exact top-k): key = u^(1/w) from the salted id hash, k
    //      largest keys = the sample; deterministic, one-pass, compiles
    //      to TakeOrderedAndProject. Weight = document length ----------
    "p91_weighted_sample" -> ((s, dir) =>
      Mixing.weightedSampleK(
        docs(s, dir).withColumn("w", length(col("text")).cast("double")),
        "doc_id", "w", k = 20, salt = "wsamp")),

    // ---- GPT-style concatenate-and-chunk packing with boundary
    //      accounting (p34's packBins gives bin ids; this gives the
    //      training loader its per-window mask-reset facts): docs
    //      concatenate per source in id order, 2048-token windows,
    //      token proxy = ceil(n_chars/4) --------------------------------
    "p96_pack_windows" -> ((s, dir) => {
      Mixing.packWindows(
        docs(s, dir).withColumn("toks", ceil(col("n_chars") / lit(4.0))),
        "source", "doc_id", "toks", budget = 2048)
        .orderBy("source", "bin")
    }),

    // ---- greedy k-center (farthest-point) coreset: k maximally-diverse
    //      exemplars, Gonzalez's 2-approximation. k rounds × one scan
    //      each (selected set = literal vectors in the projection,
    //      shuffle-free); distances rounded 1e-8 before the argmax so
    //      both engines replay the identical selection sequence --------
    "p87_kcenter_coreset" -> ((s, dir) => {
      Ann.kCenterSelect(embs(s, dir), k = 8).orderBy("rk")
    })
  )

  /** Leakage-free GROUP split (p86/p88/p97), parameterized by the
    * near-dup pair SOURCE: split assignment hashes the near-dup CLUSTER
    * label (pairs → connected components), not the doc id, so a near-dup
    * pair can never straddle train/eval — n_crossing is the in-query
    * proof and must be 0. Docs without an edge get no label and fall
    * back to their own id (the left join below). Pair-source choice is
    * the candidate-volume decision — exact prefix-Jaccard
    * (PPJoin, the published optimum for exact output) on bounded-vocab
    * corpora, MinHash-LSH + exact verify (sub-quadratic banded
    * candidates) on web corpora where prefix postings go hot. */
  private def groupSplitDf(s: SparkSession, dir: String,
                           pairsOf: DataFrame => DataFrame = d =>
                             Dedup.jaccardJoin(d, "doc_id", "text", 0.95, Dedup.WordSets).pairs)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs(s, dir)
    // the pair set feeds THREE consumers (CC edges + both sides of the
    // crossing audit); checkpoint it once — recomputing the prefix
    // join per consumer tripled the query's cost at sf0.1
    // lazy checkpoint: CC's edge build is the first consumer, so the
    // pair join materializes inside that job instead of its own
    val pairs = pairsOf(d).select("i", "j").localCheckpoint(false)
    val labels = Dedup.connectedComponents(pairs)
    // (doc_id, grp, split) fans out to FOUR consumers (fold counts,
    // group count, both sides of the crossing audit) — persist the
    // skinny frame so the corpus scan + label join runs exactly once
    val withSplit = graft.operators.Broadcasts.trackedPersist(
      d.select(col("doc_id"))
        .join(labels, col("doc_id") === col("v"), "left")
        .select(col("doc_id"),
          coalesce(col("lbl"), col("doc_id")).as("grp"))
        .withColumn("split",
          Mixing.splitAssign(Mixing.hashUnit(col("grp"), "gsplit"))))
    val folds = withSplit.groupBy("split").agg(count(lit(1)).as("n"))
      .withColumn("frac", round(col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy(lit(0))), 6))
    val groups = withSplit.agg(
      countDistinct(col("grp")).as("n_groups"))
    val crossing = pairs
      .join(withSplit.select(col("doc_id").as("i"), col("split").as("si")), "i")
      .join(withSplit.select(col("doc_id").as("j"), col("split").as("sj")), "j")
      .agg(count(lit(1)).as("n_pairs"),
        coalesce(sum(when(col("si") =!= col("sj"), 1L).otherwise(0L)),
          lit(0L)).as("n_crossing"))
    // the leakage audit is a GATE, not just a reported column: at scales
    // where the brute-force pair oracle is infeasible (sf1 tier), the
    // require() executing inside the run is the evidence that no
    // near-dup pair straddled folds — a zero in an unchecked column
    // proves nothing if nobody reads it (r11: p97 joined the sf1 tier).
    // Gate-wrapped (r12): the head() is an extra action re-running the
    // pair join; the n_crossing COLUMN below stays in the output and
    // the oracle still checks it — only the in-run assert is deferred
    // to gated (Verify) runs.
    graft.Gates.run {
      val cRow = crossing.head()
      require(cRow.getLong(1) == 0L,
        s"group-split leakage: ${cRow.getLong(1)} near-dup pair(s) cross folds")
    }
    folds.crossJoin(groups).crossJoin(crossing)
      .select(col("split"), col("n"), col("frac"), col("n_pairs"),
        col("n_crossing"), col("n_groups"))
      .orderBy("split")
  }

  /** p48's line augment: the synthetic corpus is single-line, so each
    * doc gets four lines of known cross-corpus frequency — a universal
    * footer (hot at every sf), the doc's own text (hot only where the
    * corpus planted near-identical docs), one of 25 rotating footer
    * variants (hot once the corpus outgrows 25·maxDocs docs — a
    * scale-dependent decision the oracle recomputes identically), and a
    * never-hot unique line. */
  private def lineAug = concat_ws("\n",
    lit("all rights reserved worldwide."),
    col("text"),
    concat(lit("footer variant "), (col("doc_id") % 25).cast("string"), lit(".")),
    concat(lit("unique remark "), col("doc_id").cast("string"), lit(".")))

  private val duckToks =
    "list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')"

  /** duckToks with the empty-string phantom dropped — string_split of an
    * empty doc is [''], and the Lm family filters it engine-side; these
    * oracles must state the same tokenization (the synthetic corpus has
    * no empty docs, so values are unchanged — this is contract parity). */
  private val duckToksNE =
    s"list_filter($duckToks, t -> t <> '')"

  /** The c4Aug expression, restated in DuckDB SQL. */
  private val duckAug = """
      concat_ws(chr(10),
        text || '.',
        CASE WHEN doc_id % 3 = 0
             THEN 'please enable javascript and accept cookies to continue.'
             ELSE 'the quick brown fox jumps over the lazy dog.' END,
        CASE WHEN doc_id % 4 = 0 THEN 'click here now.'
             ELSE 'another perfectly reasonable sentence appears right here.' END,
        CASE WHEN doc_id % 5 = 0
             THEN 'this line has no terminal punctuation at all'
             ELSE 'a final good line to close the document.' END,
        CASE WHEN doc_id % 2 = 0 THEN text || '.'
             ELSE 'unique closing remark number ' || CAST(doc_id AS VARCHAR) || '.' END,
        CASE WHEN doc_id % 50 = 17 THEN 'lorem ipsum dolor sit amet.' END)"""

  /** p74's tap algebra, restated in DuckDB SQL. The weight literals are
    * Scala shortest-repr doubles — DuckDB parses them back to the exact
    * same binary64 values [[Series.ewmaAnomaly]] uses. */
  private def ewmaTapSql(from: Int, until: Int): String = {
    val num = (from until until)
      .map(i => s"coalesce(lag(value, $i) OVER w * ${math.pow(0.6, i)}, 0)")
      .mkString(" + ")
    val den = (from until until)
      .map(i => s"CASE WHEN lag(value, $i) OVER w IS NOT NULL THEN ${math.pow(0.6, i)} ELSE 0 END")
      .mkString(" + ")
    s"CASE WHEN ($den) > 0 THEN ($num) / ($den) END"
  }

  val oracles: Map[String, String] = Map(
    "p67_lsh_plan" -> """
      WITH b AS (SELECT CAST(unnest([4, 8, 16, 32]) AS BIGINT) AS bands),
      g AS (SELECT unnest(range(1, 20)) AS i),
      rows_ AS (SELECT bands, CAST(64 / bands AS BIGINT) AS r, i / 20.0 AS sim
                FROM b, g),
      c AS (SELECT bands, r, sim,
              1 - power(1 - power(sim, r), bands) AS p_cand
            FROM rows_)
      SELECT bands, r, round(sim, 6) AS sim, round(p_cand, 6) AS p_cand,
             round(power(1 - power(0.5, 1.0 / bands), 1.0 / r), 6) AS s_star,
             round(SUM(CASE WHEN sim < 0.5 THEN p_cand / 20.0 ELSE 0 END)
                     OVER (PARTITION BY bands), 6) AS fp_mass,
             round(SUM(CASE WHEN sim >= 0.5 THEN (1 - p_cand) / 20.0 ELSE 0 END)
                     OVER (PARTITION BY bands), 6) AS fn_mass
      FROM c ORDER BY bands, sim""",

    "p66_url_domains" -> """
      WITH u AS (
        SELECT doc_id, n_chars,
               'https://' ||
               CASE WHEN doc_id % 3 = 0 THEN 'www.'
                    WHEN doc_id % 7 = 0 THEN 'cdn.static.' ELSE '' END ||
               'site' || CAST(doc_id % 40 AS VARCHAR) ||
               list_extract(['.com', '.org', '.net', '.co.uk', '.io'],
                            CAST(doc_id % 5 + 1 AS INT)) ||
               '/p/' || CAST(doc_id AS VARCHAR) AS url
        FROM documents),
      h AS (SELECT doc_id, n_chars,
              regexp_extract(url, '^https?://([^/]+)', 1) AS host
            FROM u),
      e AS (SELECT doc_id, n_chars, host,
              CASE WHEN host LIKE '%.co.uk'
                   THEN list_extract(string_split(host, '.'),
                          len(string_split(host, '.')) - 2) || '.co.uk'
                   ELSE list_extract(string_split(host, '.'),
                          len(string_split(host, '.')) - 1) || '.' ||
                        list_extract(string_split(host, '.'),
                          len(string_split(host, '.')))
              END AS domain
            FROM h)
      SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
             CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts
      FROM e
      WHERE domain NOT IN ('site7.com', 'site13.org')
      GROUP BY domain ORDER BY domain""",

    "p62_vocab_coverage" -> s"""
      WITH toks AS (SELECT source, unnest($duckToks) AS tok FROM documents),
      vocab AS (SELECT tok FROM (
                  SELECT tok, COUNT(*) AS c,
                         row_number() OVER (ORDER BY COUNT(*) DESC, tok) AS rk
                  FROM toks GROUP BY tok)
                WHERE rk <= 500),
      j AS (SELECT t.source, t.tok, v.tok IS NOT NULL AS in_vocab
            FROM toks t LEFT JOIN vocab v ON t.tok = v.tok)
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(CASE WHEN NOT in_vocab THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
             CAST(COUNT(DISTINCT CASE WHEN NOT in_vocab THEN tok END) AS BIGINT)
               AS distinct_oov,
             round(CAST(SUM(CASE WHEN NOT in_vocab THEN 1 ELSE 0 END) AS DOUBLE)
                   / COUNT(*), 6) AS oov_rate
      FROM j GROUP BY source ORDER BY source""",

    // BM25 leg restated from the p53 machinery with the query vocab
    // drawn from the query docs themselves; cosine leg from the p06
    // machinery; RRF fused over a full outer join of the two rank lists.
    "p61_hybrid_rrf" -> s"""
      WITH d AS (SELECT doc_id AS id, $duckToksNE AS toks FROM documents),
      tf AS (SELECT id, tok AS term, COUNT(*) AS tf
             FROM (SELECT id, unnest(toks) AS tok FROM d) GROUP BY 1, 2),
      dl AS (SELECT id, len(toks) AS dl FROM d),
      df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
      st AS (SELECT COUNT(*) AS n, AVG(len(toks)) AS avgdl FROM d),
      q AS (SELECT id AS query_id, unnest(list_distinct(toks)) AS term
            FROM d WHERE id IN (1, 2, 3)),
      s AS (SELECT q.query_id, tf.id,
              ln(1.0 + (CAST(st.n AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
                       / (CAST(df.df AS DOUBLE) + 0.5)) *
              (CAST(tf.tf AS DOUBLE) * CAST(2.2 AS DOUBLE)) /
              (CAST(tf.tf AS DOUBLE) +
               CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) +
                 CAST(0.75 AS DOUBLE) * CAST(dl.dl AS DOUBLE) / st.avgdl)) AS s
            FROM tf JOIN q USING (term) JOIN df USING (term)
            JOIN dl ON tf.id = dl.id, st),
      agg AS (SELECT query_id, id, round(SUM(s), 6) AS score
              FROM s GROUP BY 1, 2),
      bm0 AS (SELECT query_id, id, score,
                CAST(row_number() OVER (PARTITION BY query_id
                       ORDER BY score DESC, id) AS BIGINT) AS rk
              FROM agg QUALIFY rk <= 11),
      bm AS (SELECT query_id, id AS doc_id,
               CAST(row_number() OVER (PARTITION BY query_id
                      ORDER BY score DESC, id) AS BIGINT) AS r_lex
             FROM bm0 WHERE id <> query_id QUALIFY r_lex <= 10),
      vec AS (SELECT query_id, doc_id, r_vec FROM (
                SELECT qe.vec_id AS query_id, e.vec_id AS doc_id,
                       CAST(row_number() OVER (PARTITION BY qe.vec_id
                         ORDER BY round(list_cosine_similarity(
                                    CAST(qe.embedding AS DOUBLE[]),
                                    CAST(e.embedding AS DOUBLE[])), 8) DESC,
                                  e.vec_id) AS BIGINT) AS r_vec
                FROM embeddings qe, embeddings e
                WHERE qe.vec_id IN (1, 2, 3) AND e.vec_id <> qe.vec_id)
              WHERE r_vec <= 10),
      fused AS (SELECT query_id, doc_id,
                  coalesce(1.0 / (60.0 + r_lex), 0.0)
                    + coalesce(1.0 / (60.0 + r_vec), 0.0) AS rrf
                FROM bm FULL JOIN vec USING (query_id, doc_id))
      SELECT query_id,
             CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY rrf DESC, doc_id) AS BIGINT) AS rk,
             doc_id, round(rrf, 9) AS rrf
      FROM fused
      QUALIFY rk <= 10
      ORDER BY query_id, rk""",

    // Full restatement of cdcChunks: powers of B mod M built by a
    // recursive CTE, every window hash recomputed term-wise-mod (equal
    // to the engine's rolling form because both stay in [0, M)), chunks
    // sliced and md5'd from raw text. ASCII corpus ⇒ ord() == Java char.
    "p59_cdc_chunk_dedup" -> """
      WITH RECURSIVE pw(j, p) AS (
        SELECT 0, CAST(1 AS BIGINT) UNION ALL
        SELECT j + 1, (p * 257) % 1000003 FROM pw WHERE j < 15),
      pl AS (SELECT list(p ORDER BY j) AS ps FROM pw),
      d AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n FROM documents),
      pos AS (SELECT doc_id, text, n, unnest(range(15, n)) AS i FROM d WHERE n >= 16),
      h AS (SELECT doc_id, i,
              list_sum(list_transform(range(0, 16),
                j -> (ord(text[CAST(i - j + 1 AS INT)]) * ps[CAST(j + 1 AS INT)]) % 1000003)) % 1000003 AS hh
            FROM pos, pl),
      b AS (SELECT doc_id, list_sort(list(i)) AS bs FROM h WHERE hh % 64 = 0 GROUP BY doc_id),
      cb AS (SELECT d.doc_id, d.text,
               list_prepend(0, list_transform(coalesce(b.bs, []), x -> x + 1)) AS st,
               list_append(coalesce(b.bs, []), d.n - 1) AS en
             FROM d LEFT JOIN b USING (doc_id)
             WHERE d.n > 0),
      chz AS (SELECT doc_id, text,
                unnest(list_filter(
                  list_transform(range(1, len(st) + 1),
                    k -> [st[CAST(k AS INT)], en[CAST(k AS INT)]]),
                  z -> z[1] <= z[2])) AS p
              FROM cb),
      ch AS (SELECT doc_id,
               md5(text[CAST(p[1] + 1 AS INT):CAST(p[2] + 1 AS INT)]) AS chunk_md5,
               p[2] - p[1] + 1 AS chunk_len
             FROM chz),
      per AS (SELECT chunk_md5, chunk_len, COUNT(*) AS cnt,
                     COUNT(DISTINCT doc_id) AS n_docs
              FROM ch GROUP BY 1, 2)
      SELECT CAST(SUM(cnt) AS BIGINT) AS total_chunks,
             CAST(COUNT(*) AS BIGINT) AS distinct_chunks,
             CAST(SUM(cnt - 1) AS BIGINT) AS dup_occurrences,
             CAST(SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS cross_doc_chunks,
             CAST(SUM((cnt - 1) * chunk_len) AS BIGINT) AS dup_chars,
             CAST(SUM(cnt * chunk_len) AS BIGINT) AS total_chars
      FROM per""",

    "p27_c4_clean" -> s"""
      WITH a AS (SELECT doc_id, $duckAug AS aug FROM documents),
      l AS (SELECT doc_id, aug, string_split(aug, chr(10)) AS lines FROM a),
      f AS (SELECT doc_id,
              contains(lower(aug), 'lorem ipsum') OR contains(lower(aug), '{') AS doc_boiler,
              len(lines) AS n_lines,
              len(list_filter(lines, x ->
                contains(lower(x), 'javascript') OR contains(lower(x), 'cookie'))) AS n_boiler,
              len(list_filter(lines, x ->
                NOT (contains(lower(x), 'javascript') OR contains(lower(x), 'cookie'))
                AND len(string_split_regex(regexp_replace(x, '^\\s+|\\s+$$', '', 'g'), '\\s+')) < 5)) AS n_short,
              len(list_filter(lines, x ->
                NOT (contains(lower(x), 'javascript') OR contains(lower(x), 'cookie'))
                AND len(string_split_regex(regexp_replace(x, '^\\s+|\\s+$$', '', 'g'), '\\s+')) >= 5
                AND NOT regexp_matches(regexp_replace(x, '^\\s+|\\s+$$', '', 'g'), '[.!?"]$$'))) AS n_nopunct,
              list_filter(lines, x ->
                NOT (contains(lower(x), 'javascript') OR contains(lower(x), 'cookie'))
                AND len(string_split_regex(regexp_replace(x, '^\\s+|\\s+$$', '', 'g'), '\\s+')) >= 5
                AND regexp_matches(regexp_replace(x, '^\\s+|\\s+$$', '', 'g'), '[.!?"]$$')) AS pass3
            FROM l),
      k AS (SELECT *, list_transform(
              list_filter(range(1, len(pass3) + 1),
                          i -> list_position(pass3, pass3[i]) = i),
              i -> pass3[i]) AS kept
            FROM f)
      SELECT doc_id,
             CAST(n_lines AS BIGINT) AS n_lines,
             CAST(n_boiler AS BIGINT) AS n_boiler,
             CAST(n_short AS BIGINT) AS n_short,
             CAST(n_nopunct AS BIGINT) AS n_nopunct,
             CAST(len(pass3) - len(kept) AS BIGINT) AS n_dupline,
             CAST(len(kept) AS BIGINT) AS n_kept,
             CAST(length(array_to_string(kept, chr(10))) AS BIGINT) AS clean_chars,
             md5(array_to_string(kept, chr(10))) AS clean_md5,
             len(kept) >= 3 AND NOT doc_boiler AS doc_keep
      FROM k ORDER BY doc_id""",

    "p28_bloom_decontaminate" -> s"""
      WITH sh AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
        FROM (SELECT doc_id, $duckToks AS toks FROM documents)
        WHERE len(toks) >= 3),
      e AS (SELECT * FROM sh WHERE doc_id % 20 = 13),
      t AS (SELECT * FROM sh WHERE doc_id % 20 <> 13)
      SELECT t.doc_id AS train_id, e.doc_id AS eval_id,
             CAST(len(list_intersect(t.s, e.s)) AS BIGINT) AS n_common,
             round(CAST(len(list_intersect(t.s, e.s)) AS DOUBLE) / len(e.s), 6) AS overlap
      FROM t, e
      WHERE CAST(len(list_intersect(t.s, e.s)) AS DOUBLE) / len(e.s) >= 0.5
      ORDER BY train_id, eval_id""",

    "p29_semdedup" -> s"""
      WITH c AS (SELECT vec_id, cell
                 FROM read_parquet('$outRoot/sem_cells/*.parquet')),
      v AS (SELECT c.cell, c.vec_id, CAST(e.embedding AS DOUBLE[]) AS emb
            FROM c JOIN embeddings e USING (vec_id)),
      p AS (SELECT a.cell, a.vec_id AS i, b.vec_id AS j
            FROM v a JOIN v b ON a.cell = b.cell AND a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(a.emb, b.emb), 6) >= 0.45),
      pc AS (SELECT cell, COUNT(*) AS n_pairs, COUNT(DISTINCT j) AS n_dropped
             FROM p GROUP BY cell),
      nc AS (SELECT cell, COUNT(*) AS n_vecs FROM c GROUP BY cell)
      SELECT nc.cell, nc.n_vecs,
             CAST(COALESCE(pc.n_pairs, 0) AS BIGINT) AS n_pairs,
             CAST(COALESCE(pc.n_dropped, 0) AS BIGINT) AS n_dropped
      FROM nc LEFT JOIN pc USING (cell) ORDER BY nc.cell""",

    "p30_dup_spans" -> s"""
      WITH w AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, greatest(len(toks) - 6, 1)),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
                      toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' ||
                      toks[i+6] || ' ' || toks[i+7])) AS ws
        FROM (SELECT doc_id, $duckToks AS toks FROM documents)),
      posts AS (SELECT doc_id, unnest(ws) AS win FROM w),
      df AS (SELECT win, COUNT(*) AS ndocs FROM posts GROUP BY win),
      prof AS (SELECT p.doc_id, COUNT(*) AS n_windows,
                      SUM(CASE WHEN df.ndocs > 1 THEN 1 ELSE 0 END) AS n_dup
               FROM posts p JOIN df USING (win) GROUP BY p.doc_id)
      SELECT d.doc_id,
             CAST(COALESCE(prof.n_windows, 0) AS BIGINT) AS n_windows,
             CAST(COALESCE(prof.n_dup, 0) AS BIGINT) AS n_dup_windows,
             round(COALESCE(CAST(prof.n_dup AS DOUBLE) / prof.n_windows, 0.0), 6)
               AS dup_frac
      FROM documents d LEFT JOIN prof USING (doc_id) ORDER BY d.doc_id""",

    "p31_temperature_mix" -> """
      WITH c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
      r AS (SELECT source, n,
              least(1.0, 0.5 * (SUM(n) OVER ()) *
                (pow(n, 0.7) / (SUM(pow(n, 0.7)) OVER ())) / n) AS rate
            FROM c),
      b AS (SELECT d.doc_id, d.source, r.rate,
              ('0x' || substr(md5('graft-temp:' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
                / 4294967296.0 AS u
            FROM documents d JOIN r USING (source))
      SELECT source, COUNT(*) AS n_docs, round(MAX(rate), 9) AS rate,
             CAST(SUM(CASE WHEN u < rate THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             CAST(SUM(CASE WHEN u < rate THEN doc_id ELSE 0 END) AS BIGINT) AS kept_id_sum
      FROM b GROUP BY source ORDER BY source""",

    "p35_incremental_dedup" -> s"""
      WITH sh AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
        FROM (SELECT doc_id, $duckToks AS toks FROM documents)
        WHERE len(toks) >= 3),
      n AS (SELECT * FROM sh WHERE doc_id % 3 = 2),
      o AS (SELECT * FROM sh WHERE doc_id % 3 <> 2)
      SELECT n.doc_id AS new_id, o.doc_id AS old_id,
             CAST(len(list_intersect(n.s, o.s)) AS DOUBLE)
               / len(list_distinct(n.s || o.s)) AS jaccard
      FROM n, o
      WHERE CAST(len(list_intersect(n.s, o.s)) AS DOUBLE)
              / len(list_distinct(n.s || o.s)) >= 0.5
      ORDER BY new_id, old_id""",

    "p36_curation_pipeline" -> s"""
      WITH a AS (SELECT doc_id, source, text, $duckAug AS aug FROM documents),
      l AS (SELECT doc_id, aug, string_split(aug, chr(10)) AS lines FROM a),
      f3 AS (SELECT doc_id,
               contains(lower(aug), 'lorem ipsum') OR contains(lower(aug), '{') AS doc_boiler,
               list_filter(lines, x ->
                 NOT (contains(lower(x), 'javascript') OR contains(lower(x), 'cookie'))
                 AND len(string_split_regex(regexp_replace(x, '^\\s+|\\s+$$', '', 'g'), '\\s+')) >= 5
                 AND regexp_matches(regexp_replace(x, '^\\s+|\\s+$$', '', 'g'), '[.!?"]$$')) AS pass3
             FROM l),
      ck AS (SELECT doc_id FROM f3
             WHERE NOT doc_boiler
               AND len(list_filter(range(1, len(pass3) + 1),
                     i -> list_position(pass3, pass3[i]) = i)) >= 3),
      canon AS (SELECT MIN(doc_id) AS doc_id FROM documents
                GROUP BY md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))),
      shc AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
        FROM (SELECT doc_id, $duckToks AS toks FROM documents)
        WHERE len(toks) >= 3),
      e AS (SELECT * FROM shc WHERE doc_id % 20 = 7),
      t AS (SELECT * FROM shc WHERE doc_id % 20 <> 7),
      cont AS (SELECT DISTINCT t.doc_id FROM t, e
               WHERE CAST(len(list_intersect(t.s, e.s)) AS DOUBLE) / len(e.s) >= 0.5),
      f AS (SELECT d.doc_id, d.source,
              ('0x' || substr(md5('graft-split:' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
                / 4294967296.0 AS u
            FROM documents d
            JOIN ck USING (doc_id)
            JOIN canon USING (doc_id)
            WHERE d.doc_id % 20 <> 7
              AND d.doc_id NOT IN (SELECT doc_id FROM cont))
      SELECT source,
             CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val'
                  ELSE 'test' END AS split,
             COUNT(*) AS n_docs, CAST(SUM(doc_id) AS BIGINT) AS id_sum
      FROM f GROUP BY 1, 2 ORDER BY 1, 2""",

    "p33_bpe_merges" -> s"""
      WITH t AS (SELECT regexp_extract_all(lower(text),
                   '${graft.pipeline.TextOps.BpePattern}') AS bt FROM documents),
      p AS (SELECT unnest(list_transform(range(1, len(bt)),
              i -> bt[i] || ' ' || bt[i+1])) AS pair FROM t),
      c AS (SELECT pair, COUNT(*) AS cnt FROM p GROUP BY pair)
      SELECT CAST(row_number() OVER (ORDER BY cnt DESC, pair) AS BIGINT) AS rank,
             pair, cnt
      FROM c ORDER BY cnt DESC, pair LIMIT 30""",

    "p34_unigram_nll" -> s"""
      WITH posts AS (SELECT doc_id AS id, unnest($duckToksNE) AS tok FROM documents),
      m AS (SELECT tok, COUNT(*) AS cnt FROM posts GROUP BY tok),
      mt AS (SELECT tok, cnt, SUM(cnt) OVER () AS total FROM m)
      SELECT p.id AS doc_id, COUNT(*) AS n_toks,
             round(AVG(-ln(CAST(mt.cnt AS DOUBLE) / mt.total)), 6) AS avg_nll
      FROM posts p JOIN mt USING (tok) GROUP BY p.id ORDER BY p.id""",

    "p104_langid_route" -> s"""
      WITH seeds(lang, stext) AS (VALUES ${LangId.Seeds.map { case (l, t) =>
        s"('$l', '${t.replace("'", "''")}')" }.mkString(", ")}),
      lmap(i, lang) AS (VALUES ${LangId.Seeds.map(_._1).zipWithIndex
        .map { case (l, i) => s"($i, '$l')" }.mkString(", ")}),
      planted AS (
        SELECT d.doc_id, m.lang AS lang_true,
               substr(s.stext, 1 + CAST(d.doc_id % 7 AS INTEGER)) AS text
        FROM documents d
        JOIN lmap m ON m.i = CAST(d.doc_id % 5 AS INTEGER)
        JOIN seeds s ON s.lang = m.lang),
      sn AS (SELECT lang, regexp_replace(trim(lower(stext)), '\\s+', ' ', 'g') AS t
             FROM seeds),
      si AS (SELECT lang, t, unnest(range(1, len(t))) AS i FROM sn),
      cnts AS (SELECT lang, substr(t, CAST(i AS INTEGER), 2) AS gram,
                      COUNT(*) AS cnt
               FROM si GROUP BY 1, 2),
      tot AS (SELECT lang, SUM(cnt) AS total FROM cnts GROUP BY 1),
      v AS (SELECT COUNT(DISTINCT gram) AS v FROM cnts),
      model AS (SELECT c.lang, c.gram, ln((c.cnt + 1.0) / (t.total + v.v)) AS logp
                FROM cnts c JOIN tot t USING (lang) CROSS JOIN v),
      floors AS (SELECT t.lang, ln(1.0 / (t.total + v.v)) AS logp_oov
                 FROM tot t CROSS JOIN v),
      pn AS (SELECT doc_id, regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS t
             FROM planted),
      pi AS (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM pn),
      dgrams AS (SELECT doc_id, substr(t, CAST(i AS INTEGER), 2) AS gram,
                        COUNT(*) AS cnt
                 FROM pi GROUP BY 1, 2),
      sc AS (SELECT g.doc_id, f.lang,
                    round(SUM(g.cnt * coalesce(m.logp, f.logp_oov)), 6) AS score
             FROM dgrams g CROSS JOIN floors f
             LEFT JOIN model m ON m.lang = f.lang AND m.gram = g.gram
             GROUP BY 1, 2),
      pred AS (SELECT doc_id, lang AS lang_pred
               FROM (SELECT doc_id, lang,
                            row_number() OVER (PARTITION BY doc_id
                                               ORDER BY score DESC, lang) AS rk
                     FROM sc) WHERE rk = 1),
      posts AS (SELECT p.doc_id AS id, r.lang_pred AS grp,
                       unnest(list_filter(
                         string_split_regex(lower(p.text), '\\s+'),
                         t -> t <> '')) AS tok
                FROM planted p JOIN pred r USING (doc_id)),
      m2 AS (SELECT grp, tok, COUNT(*) AS cnt FROM posts GROUP BY 1, 2),
      mt AS (SELECT grp, tok, cnt, SUM(cnt) OVER (PARTITION BY grp) AS total
             FROM m2),
      nll AS (SELECT p.id, p.grp,
                     round(AVG(-ln(CAST(mt.cnt AS DOUBLE) / mt.total)), 6) AS nll
              FROM posts p JOIN mt ON p.grp = mt.grp AND p.tok = mt.tok
              GROUP BY 1, 2),
      b AS (SELECT grp, nll,
                   NTILE(3) OVER (PARTITION BY grp ORDER BY nll, id) AS bucket
            FROM nll)
      SELECT grp AS lang_pred, CAST(bucket AS BIGINT) AS bucket,
             COUNT(*) AS n_docs, round(AVG(nll), 6) AS bucket_nll
      FROM b GROUP BY 1, 2 ORDER BY 1, 2""",

    "p40_perplexity_buckets" -> s"""
      WITH posts AS (SELECT doc_id AS id, lang AS grp, unnest($duckToksNE) AS tok
                     FROM documents),
      m AS (SELECT grp, tok, COUNT(*) AS cnt FROM posts GROUP BY 1, 2),
      mt AS (SELECT grp, tok, cnt, SUM(cnt) OVER (PARTITION BY grp) AS total
             FROM m),
      nll AS (SELECT p.id, p.grp,
                     round(AVG(-ln(CAST(mt.cnt AS DOUBLE) / mt.total)), 6) AS nll
              FROM posts p JOIN mt ON p.grp = mt.grp AND p.tok = mt.tok
              GROUP BY p.id, p.grp),
      b AS (SELECT grp, nll,
                   NTILE(3) OVER (PARTITION BY grp ORDER BY nll, id) AS bucket
            FROM nll)
      SELECT grp AS lang, CAST(bucket AS BIGINT) AS bucket,
             COUNT(*) AS n_docs, round(AVG(nll), 6) AS bucket_nll
      FROM b GROUP BY 1, 2 ORDER BY 1, 2""",

    "p39_source_drift" -> s"""
      WITH posts AS (SELECT source, unnest($duckToksNE) AS tok FROM documents),
      s AS (SELECT source, tok, COUNT(*) AS c_s FROM posts GROUP BY 1, 2),
      ss AS (SELECT source, tok, c_s,
               SUM(c_s) OVER (PARTITION BY source) AS n_s FROM s),
      g AS (SELECT tok, COUNT(*) AS c FROM posts GROUP BY tok),
      gg AS (SELECT tok, c, SUM(c) OVER () AS n FROM g)
      SELECT source, CAST(MAX(n_s) AS BIGINT) AS n_toks,
             round(SUM((CAST(c_s AS DOUBLE) / n_s)
               * ln((CAST(c_s AS DOUBLE) / n_s) / (CAST(c AS DOUBLE) / n))), 6) AS kl
      FROM ss JOIN gg USING (tok)
      GROUP BY source ORDER BY source""",

    "p38_dup_span_removal" -> s"""
      WITH base AS (SELECT doc_id, $duckToks AS toks FROM documents),
      wd AS (SELECT doc_id,
               list_transform(range(1, greatest(len(toks) - 6, 1)),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
                      toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' ||
                      toks[i+6] || ' ' || toks[i+7]) AS ws
             FROM base),
      posts AS (SELECT doc_id, unnest(range(1, len(ws) + 1)) AS pos,
                       unnest(ws) AS w FROM wd),
      freq AS (SELECT w, COUNT(DISTINCT doc_id) AS ndocs FROM posts GROUP BY w),
      dupwin AS (SELECT p.doc_id, p.pos FROM posts p JOIN freq USING (w)
                 WHERE freq.ndocs > 1),
      tok AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos,
                     unnest(toks) AS tok FROM base),
      kept AS (SELECT t.doc_id, t.pos, t.tok FROM tok t
               WHERE NOT EXISTS (SELECT 1 FROM dupwin d
                 WHERE d.doc_id = t.doc_id
                   AND t.pos BETWEEN d.pos AND d.pos + 7)),
      agg AS (SELECT doc_id, COUNT(*) AS n_kept,
                     md5(string_agg(tok, ' ' ORDER BY pos)) AS clean_md5
              FROM kept GROUP BY doc_id)
      SELECT b.doc_id,
             CAST(len(b.toks) AS BIGINT) AS n_toks,
             CAST(len(b.toks) - COALESCE(agg.n_kept, 0) AS BIGINT) AS n_removed,
             COALESCE(agg.clean_md5, md5('')) AS clean_md5
      FROM base b LEFT JOIN agg USING (doc_id) ORDER BY b.doc_id""",

    "p37_stratified_topk" -> """
      WITH b AS (SELECT doc_id, source,
        ('0x' || substr(md5('graft-sample:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
          / 4294967296.0 AS u
        FROM documents)
      SELECT source,
             CAST(row_number() OVER (PARTITION BY source ORDER BY u, doc_id)
               AS BIGINT) AS rk,
             doc_id
      FROM b QUALIFY rk <= 10 ORDER BY source, rk""",

    "p32_cc_largestar" -> """
      WITH ids AS (SELECT doc_id AS v FROM documents),
      e AS (SELECT a.v AS i FROM ids a JOIN ids b ON b.v = a.v + 1
            WHERE a.v % 250 <> 249),
      isl AS (SELECT i, i - ROW_NUMBER() OVER (ORDER BY i) AS grp FROM e)
      SELECT CAST(MIN(i) AS BIGINT) AS cluster,
             CAST(MAX(i) - MIN(i) + 2 AS BIGINT) AS size,
             CAST(MAX(i) + 1 AS BIGINT) AS max_member
      FROM isl GROUP BY grp ORDER BY cluster""",

    "p42_dsir_weights" -> s"""
      WITH base AS (SELECT doc_id, lang = 'en' AS is_target, $duckToks AS t
                    FROM documents),
      feats AS (SELECT doc_id, is_target,
                       unnest(t || list_transform(range(1, greatest(len(t), 1)),
                                i -> t[i] || ' ' || t[i+1])) AS f
                FROM base),
      fb AS (SELECT doc_id, is_target,
                    (('0x' || substr(md5(f), 1, 8))::BIGINT) % 1024 AS bucket
             FROM feats WHERE f <> ''),
      r AS (SELECT bucket, COUNT(*) AS c_r,
                   SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS c_t
            FROM fb GROUP BY bucket),
      m AS (SELECT bucket, c_r, c_t, SUM(c_r) OVER () AS n_r,
                   SUM(c_t) OVER () AS n_t FROM r),
      lr AS (SELECT bucket,
                    ln((c_t + 1.0) / (n_t + 1024)) -
                    ln((c_r + 1.0) / (n_r + 1024)) AS lr FROM m)
      SELECT fb.doc_id, COUNT(*) AS n_feats, round(SUM(lr.lr), 6) AS log_w
      FROM fb JOIN lr USING (bucket) GROUP BY fb.doc_id ORDER BY fb.doc_id""",

    "p41_neardup_keep" -> s"""
      WITH RECURSIVE p AS (
        SELECT i, j FROM read_parquet('$outRoot/keep_pairs/*.parquet')),
      edges AS (SELECT i AS a, j AS b FROM p UNION SELECT j, i FROM p),
      reach(v, l) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.a, r.l FROM edges e JOIN reach r ON e.b = r.v),
      lab AS (SELECT v, min(l) AS cluster FROM reach GROUP BY v),
      scored AS (SELECT lab.v AS doc_id, lab.cluster,
                        CAST(d.n_chars AS BIGINT) AS score
                 FROM lab JOIN documents d ON d.doc_id = lab.v),
      k AS (SELECT doc_id, cluster, score,
                   ROW_NUMBER() OVER (PARTITION BY cluster
                                      ORDER BY score DESC, doc_id) AS rk
            FROM scored)
      SELECT doc_id, cluster, score, (rk = 1) AS keep
      FROM k ORDER BY doc_id""",

    "p44_chunk_overlap" -> s"""
      WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
      c AS (SELECT doc_id, toks,
              greatest(1, CAST(ceil((len(toks) - 32) / 24.0) AS BIGINT) + 1) AS k
            FROM t),
      e AS (SELECT doc_id,
              unnest(list_transform(range(0, k), i -> struct_pack(
                cid := i,
                ch  := list_slice(toks, i * 24 + 1, i * 24 + 32)))) AS s
            FROM c)
      SELECT doc_id, CAST(s.cid AS BIGINT) AS chunk_id,
             CAST(len(s.ch) AS BIGINT) AS n_chunk_toks,
             md5(array_to_string(s.ch, ' ')) AS chunk_md5
      FROM e ORDER BY doc_id, chunk_id""",

    "p45_tfidf_topk" -> s"""
      WITH tok AS (SELECT doc_id, unnest($duckToksNE) AS term FROM documents),
      tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
      n AS (SELECT doc_id, SUM(tf) AS n_toks FROM tf GROUP BY 1),
      df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      nd AS (SELECT COUNT(*) AS n_docs FROM documents),
      sc AS (SELECT tf.doc_id, tf.term,
               round((CAST(tf AS DOUBLE) / n_toks)
                 * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0), 6) AS tfidf
             FROM tf JOIN n USING (doc_id) JOIN df USING (term) CROSS JOIN nd),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                        ORDER BY tfidf DESC, term) AS rk FROM sc)
      SELECT doc_id, CAST(rk AS BIGINT) AS rk, term, tfidf
      FROM r WHERE rk <= 3 ORDER BY doc_id, rk""",

    // the accent suffix is rebuilt from code points (chr(233) = é,
    // chr(769) = combining acute) so no literal encoding ambiguity can
    // creep in between the Scala source, the JSON dump, and DuckDB
    "p46_unicode_norm" -> """
      WITH a AS (
        SELECT doc_id, text ||
          CASE WHEN doc_id % 3 = 0
               THEN ' caf' || chr(233) || ' touch' || chr(233)
               WHEN doc_id % 3 = 1
               THEN ' cafe' || chr(769) || ' touche' || chr(769)
               ELSE ' plain ascii' END AS aug
        FROM documents)
      SELECT doc_id,
             md5(nfc_normalize(aug)) AS nfc_md5,
             aug <> nfc_normalize(aug) AS changed_nfc,
             md5(strip_accents(aug)) AS ascii_md5
      FROM a ORDER BY doc_id""",

    "p47_weighted_resample" -> """
      WITH t AS (SELECT CAST(SUM(n_chars) AS DOUBLE) AS tot FROM documents),
      u AS (SELECT doc_id,
              ('0x' || substr(md5('graft-resample:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                / 4294967296.0 AS u,
              least(1.0, 100.0 * n_chars / tot) AS p
            FROM documents, t)
      SELECT doc_id, round(p, 6) AS p_keep
      FROM u WHERE u < p ORDER BY doc_id""",

    "p48_global_line_dedup" -> """
      WITH d AS (SELECT doc_id,
              concat_ws(chr(10),
                'all rights reserved worldwide.',
                text,
                'footer variant ' || CAST(doc_id % 25 AS VARCHAR) || '.',
                'unique remark ' || CAST(doc_id AS VARCHAR) || '.') AS text
            FROM documents),
      l AS (SELECT doc_id, unnest(range(1, len(ls) + 1)) AS pos,
                   unnest(ls) AS line
            FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM d)),
      c AS (SELECT line, COUNT(DISTINCT doc_id) AS n_docs FROM l GROUP BY line),
      f AS (SELECT l.doc_id, l.pos, l.line, (c.n_docs >= 5) AS hot
            FROM l JOIN c USING (line))
      SELECT doc_id,
             COUNT(*) AS n_lines,
             CAST(SUM(CASE WHEN hot THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
             CAST(COUNT(*) - SUM(CASE WHEN hot THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             md5(COALESCE(string_agg(CASE WHEN NOT hot THEN line END,
                                     chr(10) ORDER BY pos), '')) AS clean_md5
      FROM f GROUP BY doc_id ORDER BY doc_id""",

    "p56_corpus_delta" -> """
      WITH v1 AS (SELECT doc_id, text FROM documents),
      v2 AS (
        SELECT doc_id,
               CASE WHEN doc_id % 17 = 5 THEN text || ' v2 edit' ELSE text END AS text
        FROM documents WHERE doc_id % 17 <> 3
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text
        FROM documents WHERE doc_id % 17 = 7),
      f1 AS (SELECT doc_id,
               md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp1 FROM v1),
      f2 AS (SELECT doc_id,
               md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp2 FROM v2),
      j AS (SELECT COALESCE(f1.doc_id, f2.doc_id) AS doc_id,
                   CASE WHEN f1.fp1 IS NULL THEN 'added'
                        WHEN f2.fp2 IS NULL THEN 'removed'
                        WHEN f1.fp1 <> f2.fp2 THEN 'changed'
                        ELSE 'same' END AS status
            FROM f1 FULL OUTER JOIN f2 ON f1.doc_id = f2.doc_id)
      SELECT status, COUNT(*) AS n_docs,
             MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
      FROM j GROUP BY status ORDER BY status""",

    "p57_domain_budget_cap" -> """
      WITH r AS (
        SELECT source, n_chars,
               SUM(n_chars) OVER (PARTITION BY source
                                  ORDER BY n_chars DESC, doc_id
                                  ROWS UNBOUNDED PRECEDING) AS cum_chars
        FROM documents)
      SELECT source,
             CAST(SUM(CASE WHEN cum_chars <= 4000 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             CAST(SUM(CASE WHEN cum_chars <= 4000 THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
             CAST(SUM(CASE WHEN cum_chars <= 4000 THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
      FROM r GROUP BY source ORDER BY source""",

    "p58_pagerank_weights" -> """
      WITH nodes AS (SELECT doc_id AS id FROM documents),
      prm AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
      e0 AS (
        SELECT id AS src, (id*31 + 1) % (SELECT n FROM prm) AS dst FROM nodes
        UNION ALL
        SELECT id, (id*131 + 2) % (SELECT n FROM prm) FROM nodes
        UNION ALL
        SELECT id, (id*211 + 3) % (SELECT n FROM prm) FROM nodes),
      edges AS (
        SELECT DISTINCT src, dst FROM e0
        WHERE src <> dst AND dst IN (SELECT id FROM nodes)),
      deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
      s0 AS (SELECT id, CAST(1.0 AS DOUBLE)/(SELECT n FROM prm) AS score
             FROM nodes),
      it1 AS (
        SELECT nd.id,
               (CAST(1.0 AS DOUBLE)-CAST(0.85 AS DOUBLE))/(SELECT n FROM prm)
               + CAST(0.85 AS DOUBLE)*COALESCE(m.mass, CAST(0.0 AS DOUBLE)) AS score
        FROM nodes nd
        LEFT JOIN (SELECT e.dst, SUM(s.score / d.deg) AS mass
                   FROM edges e JOIN deg d ON e.src = d.src
                   JOIN s0 s ON s.id = e.src GROUP BY e.dst) m
          ON m.dst = nd.id),
      it2 AS (
        SELECT nd.id,
               (CAST(1.0 AS DOUBLE)-CAST(0.85 AS DOUBLE))/(SELECT n FROM prm)
               + CAST(0.85 AS DOUBLE)*COALESCE(m.mass, CAST(0.0 AS DOUBLE)) AS score
        FROM nodes nd
        LEFT JOIN (SELECT e.dst, SUM(s.score / d.deg) AS mass
                   FROM edges e JOIN deg d ON e.src = d.src
                   JOIN it1 s ON s.id = e.src GROUP BY e.dst) m
          ON m.dst = nd.id),
      it3 AS (
        SELECT nd.id,
               (CAST(1.0 AS DOUBLE)-CAST(0.85 AS DOUBLE))/(SELECT n FROM prm)
               + CAST(0.85 AS DOUBLE)*COALESCE(m.mass, CAST(0.0 AS DOUBLE)) AS score
        FROM nodes nd
        LEFT JOIN (SELECT e.dst, SUM(s.score / d.deg) AS mass
                   FROM edges e JOIN deg d ON e.src = d.src
                   JOIN it2 s ON s.id = e.src GROUP BY e.dst) m
          ON m.dst = nd.id)
      SELECT id AS doc_id, round(score, 9) AS pr
      FROM it3 ORDER BY pr DESC, id LIMIT 20""",

    "p53_bm25_topk" -> s"""
      WITH d AS (SELECT doc_id AS id, $duckToksNE AS toks FROM documents),
      tf AS (SELECT id, tok AS term, COUNT(*) AS tf
             FROM (SELECT id, unnest(toks) AS tok FROM d) GROUP BY 1, 2),
      dl AS (SELECT id, len(toks) AS dl FROM d),
      df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
      st AS (SELECT COUNT(*) AS n, AVG(len(toks)) AS avgdl FROM d),
      q AS (SELECT * FROM (VALUES (1, 'hash'), (1, 'join'),
                                  (2, 'fast'), (2, 'scan'), (2, 'filter'),
                                  (3, 'window'), (3, 'agg'), (3, 'customer'))
            AS t(query_id, term)),
      s AS (SELECT q.query_id, tf.id,
              ln(1.0 + (CAST(st.n AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
                       / (CAST(df.df AS DOUBLE) + 0.5)) *
              (CAST(tf.tf AS DOUBLE) * CAST(2.2 AS DOUBLE)) /
              (CAST(tf.tf AS DOUBLE) +
               CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) +
                 CAST(0.75 AS DOUBLE) * CAST(dl.dl AS DOUBLE) / st.avgdl)) AS s
            FROM tf JOIN q USING (term) JOIN df USING (term)
            JOIN dl ON tf.id = dl.id, st),
      agg AS (SELECT query_id, id, round(SUM(s), 6) AS score
              FROM s GROUP BY 1, 2)
      SELECT query_id,
             CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY score DESC, id) AS BIGINT) AS rk,
             id AS doc_id, score
      FROM agg
      QUALIFY rk <= 10
      ORDER BY query_id, rk""",

    "p52_index_retraction" -> s"""
      SELECT band, COUNT(*) AS n_entries, COUNT(DISTINCT id) AS n_docs
      FROM read_parquet('$outRoot/retr_index/*.parquet')
      WHERE id % 10 <> 3
      GROUP BY band ORDER BY band""",

    "p49_bigram_nll" -> s"""
      WITH t AS (SELECT doc_id AS id, $duckToksNE AS t FROM documents),
      pairs AS (SELECT id,
                  unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1,
                  unnest(list_transform(range(1, len(t)), i -> t[i+1])) AS w2
                FROM t),
      uni AS (SELECT w, COUNT(*) AS c
              FROM (SELECT unnest(t) AS w FROM t) GROUP BY w),
      un AS (SELECT w, c, SUM(c) OVER () AS n FROM uni),
      bi AS (SELECT w1, w2, COUNT(*) AS c12 FROM pairs GROUP BY 1, 2)
      SELECT p.id AS doc_id, COUNT(*) AS n_bigrams,
             round(AVG(-ln(
               0.7 * CAST(bi.c12 AS DOUBLE) / CAST(u1.c AS DOUBLE) +
               0.3 * CAST(u2.c AS DOUBLE) / CAST(u2.n AS DOUBLE))), 6) AS avg_nll
      FROM pairs p
      JOIN bi USING (w1, w2)
      JOIN un u1 ON p.w1 = u1.w
      JOIN un u2 ON p.w2 = u2.w
      GROUP BY p.id ORDER BY doc_id""",

    "p74_ewma_anomaly" -> s"""
      WITH sm AS (
        SELECT user_id, ts, event_id, value AS x,
               ${ewmaTapSql(0, 8)} AS ewma,
               ${ewmaTapSql(1, 9)} AS ewma_prev
        FROM events WHERE user_id <= 30
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      SELECT user_id, epoch_us(ts) AS t_us, event_id, x,
             round(ewma, 6) AS ewma,
             round(ewma_prev, 6) AS ewma_prev,
             round(x - ewma_prev, 6) AS resid,
             COALESCE(abs(x - ewma_prev) > 60.0, false) AS is_anomaly
      FROM sm ORDER BY user_id, ts, event_id""",

    "p75_k_anonymity" -> """
      WITH lvl AS (
        SELECT 'l0_nation_seg_bal500' AS level, n, l_div FROM (
          SELECT COUNT(*) AS n, COUNT(DISTINCT c_custkey % 5) AS l_div
          FROM customer
          GROUP BY c_nationkey, c_mktsegment, floor(c_acctbal / 500))
        UNION ALL
        SELECT 'l1_nation_seg', n, l_div FROM (
          SELECT COUNT(*) AS n, COUNT(DISTINCT c_custkey % 5) AS l_div
          FROM customer GROUP BY c_nationkey, c_mktsegment)
        UNION ALL
        SELECT 'l2_seg', n, l_div FROM (
          SELECT COUNT(*) AS n, COUNT(DISTINCT c_custkey % 5) AS l_div
          FROM customer GROUP BY c_mktsegment))
      SELECT level,
             CAST(SUM(n) AS BIGINT) AS n_rows,
             CAST(COUNT(*) AS BIGINT) AS n_classes,
             CAST(MIN(n) AS BIGINT) AS min_class,
             CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
               AS rows_unsafe,
             round(CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS DOUBLE)
               / SUM(n), 6) AS pct_unsafe,
             CAST(MIN(l_div) AS BIGINT) AS min_l_div,
             MIN(n) >= 5 AS safe_k_anonymous,
             MIN(l_div) >= 3 AS safe_l_diverse
      FROM lvl GROUP BY level ORDER BY level""",

    "p105_entity_em" -> {
      // one EM iteration = three CTE layers (joint, posterior, M-step),
      // generated so the 5 unrolled iterations can't drift apart — the
      // p85 fixed-iteration oracle pattern
      val fields = Seq(("g_lev2", "m1", "u1"), ("g_tok2", "m2", "u2"),
        ("g_last", "m3", "u3"))
      def prodM = fields.map { case (g, m, _) =>
        s"(CASE WHEN $g THEN p.$m ELSE 1 - p.$m END)" }.mkString(" * ")
      def prodU = fields.map { case (g, _, u) =>
        s"(CASE WHEN $g THEN p.$u ELSE 1 - p.$u END)" }.mkString(" * ")
      def clamp(x: String) = s"greatest(least($x, 1 - 1e-6), 1e-6)"
      def iterSql(i: Int): String = s"""
      e$i AS (SELECT n_pairs, g_lev2, g_tok2, g_last,
                p.lambda * $prodM AS pm, (1 - p.lambda) * $prodU AS pu
              FROM pats, p${i - 1} p),
      s$i AS (SELECT *, pm / (pm + pu) AS post FROM e$i),
      p$i AS (SELECT
        ${clamp("SUM(n_pairs * post) / SUM(n_pairs)")} AS lambda,
        ${fields.map { case (g, m, _) => clamp(
          s"SUM(n_pairs * post * CASE WHEN $g THEN 1 ELSE 0 END) / " +
            "SUM(n_pairs * post)") + s" AS $m" }.mkString(",\n        ")},
        ${fields.map { case (g, _, u) => clamp(
          s"SUM(n_pairs * (1 - post) * CASE WHEN $g THEN 1 ELSE 0 END) / " +
            "SUM(n_pairs * (1 - post))") + s" AS $u" }.mkString(",\n        ")}
        FROM s$i)"""
      val weight = fields.map { case (g, m, u) =>
        s"(CASE WHEN $g THEN ln(p.$m / p.$u) " +
          s"ELSE ln((1 - p.$m) / (1 - p.$u)) END)" }.mkString(" + ")
      s"""
      WITH ents AS (
        SELECT DISTINCT p_name || ' ' || lower(p_type) || ' size ' ||
               CAST(p_size AS VARCHAR) AS nm FROM part),
      ids AS (SELECT nm, row_number() OVER (ORDER BY nm) AS rn FROM ents),
      recs AS (
        SELECT rn * 2 AS id, nm FROM ids
        UNION ALL
        SELECT rn * 2 + 1, substr(nm, 1, 2) || 'x' || substr(nm, 4, 1000)
        FROM ids WHERE rn % 3 = 0),
      keyed AS (SELECT id, nm,
                  substr(nm, 1, 2) || '#' || CAST(length(nm) AS VARCHAR) AS bk
                FROM recs),
      sizes AS (SELECT bk, COUNT(*) AS bn FROM keyed GROUP BY bk),
      kept AS (SELECT k.id, k.nm, k.bk FROM keyed k
               JOIN sizes s USING (bk) WHERE s.bn <= 500),
      pats AS (
        SELECT levenshtein(a.nm, b.nm) <= 2 AS g_lev2,
               (string_split(a.nm, ' '))[2] = (string_split(b.nm, ' '))[2]
                 AS g_tok2,
               (string_split(a.nm, ' '))[-1] = (string_split(b.nm, ' '))[-1]
                 AS g_last,
               COUNT(*) AS n_pairs
        FROM kept a JOIN kept b USING (bk)
        WHERE a.id < b.id GROUP BY 1, 2, 3),
      p0(lambda, m1, m2, m3, u1, u2, u3) AS (
        SELECT 0.1, 0.9, 0.9, 0.9, 0.1, 0.1, 0.1),
      ${(1 to 5).map(iterSql).mkString(",")}
      SELECT g_lev2, g_tok2, g_last, CAST(n_pairs AS BIGINT) AS n_pairs,
             round($weight, 6) AS weight,
             round((p.lambda * $prodM) /
               (p.lambda * $prodM + (1 - p.lambda) * $prodU), 6) AS posterior
      FROM pats, p5 p
      ORDER BY g_lev2, g_tok2, g_last"""
    },

    "p76_entity_blocking" -> """
      WITH ents AS (
        SELECT DISTINCT p_name || ' ' || lower(p_type) || ' size ' ||
               CAST(p_size AS VARCHAR) AS nm FROM part),
      ids AS (SELECT nm, row_number() OVER (ORDER BY nm) AS rn FROM ents),
      recs AS (
        SELECT rn * 2 AS id, nm FROM ids
        UNION ALL
        SELECT rn * 2 + 1, substr(nm, 1, 2) || 'x' || substr(nm, 4, 1000)
        FROM ids WHERE rn % 3 = 0),
      keyed AS (
        SELECT id, nm,
               substr(nm, 1, 2) || '#' || CAST(length(nm) AS VARCHAR) AS bk
        FROM recs),
      sizes AS (SELECT bk, COUNT(*) AS bn FROM keyed GROUP BY bk),
      kept AS (SELECT k.id, k.nm, k.bk FROM keyed k
               JOIN sizes s USING (bk) WHERE s.bn <= 500),
      pr AS (
        SELECT a.id AS id_a, b.id AS id_b
        FROM kept a JOIN kept b USING (bk)
        WHERE a.id < b.id AND levenshtein(a.nm, b.nm) <= 2),
      acct AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_blocks,
               CAST(MAX(bn) AS BIGINT) AS max_block,
               CAST(SUM(CASE WHEN bn > 500 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_blocks_dropped,
               CAST(SUM(CASE WHEN bn > 500 THEN bn ELSE 0 END) AS BIGINT)
                 AS n_records_dropped
        FROM sizes),
      pm AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(COALESCE(SUM(CASE WHEN id_b = id_a + 1 AND id_a % 2 = 0
                 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_true_pairs
        FROM pr),
      pl AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_planted
             FROM ids WHERE rn % 3 = 0)
      SELECT acct.n_blocks, acct.max_block, acct.n_blocks_dropped,
             acct.n_records_dropped, pm.n_pairs, pm.n_true_pairs,
             pl.n_planted,
             round(CAST(pm.n_true_pairs AS DOUBLE) / pl.n_planted, 6)
               AS recall
      FROM acct, pm, pl""",

    "p77_triangle_count" -> """
      WITH li AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS pk
                  FROM lineitem),
      sz AS (SELECT okey, COUNT(*) AS ni FROM li GROUP BY okey),
      kept AS (SELECT li.okey, li.pk FROM li
               JOIN sz USING (okey) WHERE sz.ni <= 32),
      e AS (SELECT DISTINCT a.pk AS u, b.pk AS v
            FROM kept a JOIN kept b ON a.okey = b.okey AND a.pk < b.pk),
      deg AS (SELECT n, COUNT(*) AS d FROM
                (SELECT u AS n FROM e UNION ALL SELECT v FROM e)
              GROUP BY n),
      ds AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
                    CAST(SUM(d) // 2 AS BIGINT) AS n_edges,
                    CAST(SUM(d * (d - 1)) // 2 AS BIGINT) AS n_wedges
             FROM deg),
      tri AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
              FROM e e1
              JOIN e e2 ON e2.u = e1.u AND e1.v < e2.v
              JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v),
      acct AS (SELECT CAST(SUM(CASE WHEN ni <= 32 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_orders_used,
                      CAST(SUM(CASE WHEN ni > 32 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_orders_dropped
               FROM sz)
      SELECT acct.n_orders_used, acct.n_orders_dropped,
             ds.n_nodes, ds.n_edges, ds.n_wedges, tri.n_triangles,
             CASE WHEN ds.n_wedges > 0
                  THEN round(3.0 * tri.n_triangles / ds.n_wedges, 6) END
               AS transitivity
      FROM acct, ds, tri""",

    "p78_kmv_ndv" -> """
      WITH h AS (
        SELECT DISTINCT l_returnflag AS flag,
               ('0x' || substr(md5('kmv:' || CAST(l_partkey AS VARCHAR)),
                 1, 8))::BIGINT / 4294967296.0 AS u
        FROM lineitem),
      rk AS (
        SELECT flag, u,
               row_number() OVER (PARTITION BY flag ORDER BY u) AS r
        FROM h),
      sk AS (
        SELECT flag, COUNT(*) AS n_exact,
               MAX(CASE WHEN r = 256 THEN u END) AS kth
        FROM rk GROUP BY flag),
      est AS (
        SELECT flag, CAST(n_exact AS BIGINT) AS n_exact,
               CASE WHEN n_exact < 256 THEN CAST(n_exact AS DOUBLE)
                    ELSE 255.0 / kth END AS e
        FROM sk)
      SELECT flag, n_exact, round(e, 6) AS est,
             round(abs(e - n_exact) / n_exact, 6) AS rel_err,
             abs(e - n_exact) / n_exact <= 0.25 AS within_bound
      FROM est ORDER BY flag""",

    "p79_markov_transitions" -> """
      WITH s AS (
        SELECT event_type AS state,
               lag(event_type) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id) AS prev_state
        FROM events),
      t AS (SELECT prev_state, state, COUNT(*) AS n FROM s
            WHERE prev_state IS NOT NULL GROUP BY 1, 2),
      ns AS (SELECT COUNT(DISTINCT event_type) AS k FROM events),
      rt AS (SELECT prev_state, SUM(n) AS row_n FROM t GROUP BY prev_state)
      SELECT t.prev_state, t.state, CAST(t.n AS BIGINT) AS n,
             round(CAST(t.n + 1 AS DOUBLE) / (rt.row_n + ns.k), 6) AS p
      FROM t JOIN rt USING (prev_state) CROSS JOIN ns
      ORDER BY prev_state, state""",

    "p80_prefix_jaccard" -> """
      WITH t AS (SELECT doc_id AS id,
                        list_distinct(list_filter(string_split_regex(
                          lower(text), '\s+'), t -> t <> '')) AS ts
                 FROM documents),
      p AS (SELECT id, unnest(ts) AS tok FROM t),
      sz AS (SELECT id, len(ts) AS n FROM t),
      inter AS (SELECT a.id AS i, b.id AS j, COUNT(*) AS c
                FROM p a JOIN p b ON a.tok = b.tok AND a.id < b.id
                GROUP BY 1, 2)
      SELECT i, j,
             round(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) AS jaccard
      FROM inter
      JOIN sz sa ON sa.id = inter.i
      JOIN sz sb ON sb.id = inter.j
      WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.95
      ORDER BY i, j""",

    "p81_kmv_setops" -> """
      WITH h AS (
        SELECT l_orderkey % 3 AS shard,
               ('0x' || substr(md5('kmv:' || CAST(l_partkey AS VARCHAR)),
                 1, 8))::BIGINT / 4294967296.0 AS u
        FROM lineitem WHERE l_orderkey % 3 <= 1),
      ad AS (SELECT DISTINCT u FROM h WHERE shard = 0),
      bd AS (SELECT DISTINCT u FROM h WHERE shard = 1),
      ak AS (SELECT list(u ORDER BY u) AS a FROM
               (SELECT u FROM ad ORDER BY u LIMIT 256)),
      bk AS (SELECT list(u ORDER BY u) AS b FROM
               (SELECT u FROM bd ORDER BY u LIMIT 256)),
      ud AS (SELECT DISTINCT u FROM h),
      ukk AS (SELECT list(u ORDER BY u) AS uk FROM
               (SELECT u FROM ud ORDER BY u LIMIT 256)),
      ex0 AS (
        SELECT u, max(CASE WHEN shard = 0 THEN 1 ELSE 0 END) AS ia,
               max(CASE WHEN shard = 1 THEN 1 ELSE 0 END) AS ib
        FROM h GROUP BY u),
      ex AS (
        SELECT CAST(SUM(ia) AS BIGINT) AS na,
               CAST(SUM(ib) AS BIGINT) AS nb,
               CAST(COUNT(*) AS BIGINT) AS nu,
               CAST(SUM(ia * ib) AS BIGINT) AS ni
        FROM ex0)
      SELECT ex.na, ex.nb, ex.nu, ex.ni,
             round(CASE WHEN len(uk) < 256 THEN CAST(len(uk) AS DOUBLE)
                        ELSE 255.0 / uk[256] END, 6) AS nu_est,
             round(CAST(len(list_filter(uk, x ->
               list_contains(a, x) AND list_contains(b, x))) AS DOUBLE)
               / len(uk), 6) AS j_est,
             round(CAST(ex.ni AS DOUBLE) / ex.nu, 6) AS j_exact
      FROM ukk, ak, bk, ex""",

    "p82_ks_drift" -> """
      WITH v AS (SELECT event_type AS g, value AS v FROM events),
      byval AS (SELECT g, v, COUNT(*) AS c FROM v GROUP BY g, v),
      gval AS (SELECT v, COUNT(*) AS cg FROM v GROUP BY v),
      tot AS (SELECT COUNT(*) AS n_all FROM v),
      grp AS (SELECT g, SUM(c) AS n_g FROM byval GROUP BY g),
      grid AS (SELECT gval.v, SUM(gval.cg) OVER (ORDER BY gval.v)
                 AS cum_all FROM gval),
      exp0 AS (
        SELECT grp.g, grid.v, grid.cum_all, grp.n_g,
               COALESCE(byval.c, 0) AS c
        FROM grid CROSS JOIN grp
        LEFT JOIN byval ON byval.g = grp.g AND byval.v = grid.v),
      cums AS (
        SELECT g, n_g, cum_all,
               SUM(c) OVER (PARTITION BY g ORDER BY v) AS cum_g,
               (SELECT n_all FROM tot) AS n_all
        FROM exp0)
      SELECT g, CAST(MAX(n_g) AS BIGINT) AS n,
             round(MAX(abs(CAST(cum_g AS DOUBLE) / n_g -
                           CAST(cum_all AS DOUBLE) / n_all)), 6) AS d,
             MAX(abs(CAST(cum_g AS DOUBLE) / n_g -
                     CAST(cum_all AS DOUBLE) / n_all)) > 0.1 AS drifted
      FROM cums GROUP BY g ORDER BY g""",

    "p101_psi_drift" -> """
      WITH base AS (SELECT event_type AS g, event_id % 2 AS snap,
                      CAST(value AS DOUBLE) AS v
                    FROM events WHERE value IS NOT NULL),
      mm AS (SELECT g, min(v) AS lo, max(v) AS hi FROM base GROUP BY g),
      c AS (SELECT base.g, snap,
              CASE WHEN mm.hi = mm.lo THEN 0
                   ELSE least(9, greatest(0, CAST(floor((v - mm.lo) /
                     ((mm.hi - mm.lo) / 10)) AS BIGINT))) END AS b,
              COUNT(*) AS c
            FROM base JOIN mm USING (g) GROUP BY 1, 2, 3),
      t AS (SELECT g, snap, SUM(c) AS n FROM c GROUP BY 1, 2),
      grid AS (SELECT DISTINCT g, unnest(range(0, 10)) AS b FROM c),
      sa AS (SELECT grid.g, grid.b, COALESCE(ca.c, 0) AS ca, ta.n AS na
             FROM grid
             LEFT JOIN (SELECT g, b, c FROM c WHERE snap = 0) ca
               USING (g, b)
             JOIN (SELECT g, n FROM t WHERE snap = 0) ta USING (g)),
      sb AS (SELECT grid.g, grid.b, COALESCE(cb.c, 0) AS cb, tb.n AS nb
             FROM grid
             LEFT JOIN (SELECT g, b, c FROM c WHERE snap = 1) cb
               USING (g, b)
             JOIN (SELECT g, n FROM t WHERE snap = 1) tb USING (g)),
      j AS (SELECT sa.g, sa.na, sb.nb,
              (sa.ca + 0.5) / (sa.na + 5.0) AS pa,
              (sb.cb + 0.5) / (sb.nb + 5.0) AS pb
            FROM sa JOIN sb ON sa.g = sb.g AND sa.b = sb.b)
      SELECT g, CAST(MAX(na) AS BIGINT) AS n_a,
             CAST(MAX(nb) AS BIGINT) AS n_b,
             round(SUM((pa - pb) * ln(pa / pb)), 6) AS psi,
             SUM((pa - pb) * ln(pa / pb)) > 0.05 AS drifted
      FROM j GROUP BY 1 ORDER BY 1""",

    "p102_cms_heavyhitters" -> s"""
      WITH toks AS (SELECT unnest($duckToks) AS tok FROM documents),
      c AS (SELECT tok, COUNT(*) AS cnt,
              row_number() OVER (ORDER BY COUNT(*) DESC, tok) AS rk
            FROM toks GROUP BY tok)
      SELECT tok, CAST(cnt AS BIGINT) AS cnt, TRUE AS within_bound
      FROM c WHERE rk <= 20 ORDER BY tok""",

    "p83_rendezvous_shards" -> """
      WITH w AS (
        SELECT doc_id, v.s,
               ('0x' || substr(md5('rdz:' || CAST(v.s AS VARCHAR) || ':' ||
                 CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                 / 4294967296.0 AS wt
        FROM documents CROSS JOIN (VALUES (0), (1), (2), (3), (4)) AS v(s)),
      b AS (SELECT doc_id, s AS shard_before FROM (
              SELECT doc_id, s, row_number() OVER (
                PARTITION BY doc_id ORDER BY wt DESC, s) AS r
              FROM w WHERE s < 4) WHERE r = 1),
      a AS (SELECT doc_id, s AS shard_after FROM (
              SELECT doc_id, s, row_number() OVER (
                PARTITION BY doc_id ORDER BY wt DESC, s) AS r
              FROM w) WHERE r = 1),
      j AS (SELECT b.shard_before, a.shard_after
            FROM b JOIN a USING (doc_id))
      SELECT CAST(shard_before AS BIGINT) AS shard_before,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN shard_before <> shard_after
               THEN 1 ELSE 0 END) AS BIGINT) AS n_moved,
             round(SUM(CASE WHEN shard_before <> shard_after
               THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) AS moved_frac,
             round(SUM(SUM(CASE WHEN shard_before <> shard_after
               THEN 1 ELSE 0 END)) OVER () * 1.0 /
               SUM(COUNT(*)) OVER (), 6) AS total_moved_frac
      FROM j GROUP BY shard_before ORDER BY shard_before""",

    "p84_merkle_digest" -> """
      WITH v AS (
        SELECT doc_id, text,
               CASE WHEN doc_id = 42 THEN text || ' [edited]'
                    ELSE text END AS text2
        FROM documents),
      r AS (
        SELECT ('0x' || substr(md5('mk:' || CAST(doc_id AS VARCHAR)),
                 1, 8))::BIGINT % 64 AS bucket,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || text),
                 1, 12))::BIGINT AS h_a,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || text2),
                 1, 12))::BIGINT AS h_b
        FROM v),
      bkt AS (
        SELECT bucket,
               CAST(sum(h_a) % 281474976710656 AS BIGINT) AS dg_a,
               CAST(sum(h_b) % 281474976710656 AS BIGINT) AS dg_b
        FROM r GROUP BY bucket)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
             CAST(SUM(CASE WHEN dg_a <> dg_b THEN 1 ELSE 0 END) AS BIGINT)
               AS n_buckets_changed,
             md5(string_agg(CAST(dg_a AS VARCHAR), ',' ORDER BY bucket))
               AS root_a,
             md5(string_agg(CAST(dg_b AS VARCHAR), ',' ORDER BY bucket))
               AS root_b,
             md5(string_agg(CAST(dg_a AS VARCHAR), ',' ORDER BY bucket)) <>
             md5(string_agg(CAST(dg_b AS VARCHAR), ',' ORDER BY bucket))
               AS root_changed
      FROM bkt""",

    "p85_markov_attribution" -> {
      val K = 16
      val stepCtes = (1 to K).map { i =>
        s"""v$i AS MATERIALIZED (SELECT w.scenario, t.b AS state, SUM(w.mass * t.p) AS mass
           |  FROM v${i - 1} w JOIN ptr t
           |    ON t.scenario = w.scenario AND t.a = w.state
           |  GROUP BY w.scenario, t.b)""".stripMargin
      }.mkString(",\n")
      s"""
      WITH paths AS MATERIALIZED (
        SELECT user_id,
               CASE WHEN event_type = 'purchase' THEN 'CONV'
                    ELSE event_type END AS st,
               row_number() OVER (
                 PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events),
      fc AS MATERIALIZED (SELECT user_id, MIN(rn) AS prn FROM paths
             WHERE st = 'CONV' GROUP BY user_id),
      pe AS MATERIALIZED (SELECT p.user_id, p.rn, p.st FROM paths p
             LEFT JOIN fc USING (user_id)
             WHERE fc.prn IS NULL OR p.rn <= fc.prn),
      tr AS MATERIALIZED (
        SELECT COALESCE(lag(st) OVER (
                 PARTITION BY user_id ORDER BY rn), 'START') AS a,
               st AS b
        FROM pe
        UNION ALL
        SELECT st, 'DROP' FROM (
          SELECT user_id, st, rn,
                 MAX(rn) OVER (PARTITION BY user_id) AS lrn FROM pe)
        WHERE rn = lrn AND st <> 'CONV'),
      cnt AS MATERIALIZED (SELECT a, b, COUNT(*) AS n FROM tr GROUP BY a, b),
      base_p AS MATERIALIZED (SELECT a, b, CAST(n AS DOUBLE) /
                   SUM(n) OVER (PARTITION BY a) AS p FROM cnt),
      chans AS MATERIALIZED (SELECT DISTINCT a AS c FROM cnt
                WHERE a NOT IN ('START', 'CONV', 'DROP')
                UNION
                SELECT DISTINCT b FROM cnt
                WHERE b NOT IN ('START', 'CONV', 'DROP')),
      scen AS MATERIALIZED (SELECT 'base' AS scenario, CAST(NULL AS VARCHAR) AS removed
               UNION ALL SELECT c, c FROM chans),
      ptr0 AS MATERIALIZED (
        SELECT s.scenario,
               bp.a,
               CASE WHEN s.removed IS NOT NULL AND bp.b = s.removed
                    THEN 'DROP' ELSE bp.b END AS b,
               bp.p
        FROM scen s CROSS JOIN base_p bp
        WHERE s.removed IS NULL OR bp.a <> s.removed),
      ptr1 AS MATERIALIZED (SELECT scenario, a, b, SUM(p) AS p FROM ptr0 GROUP BY 1, 2, 3),
      ptr AS MATERIALIZED (SELECT * FROM ptr1
              UNION ALL SELECT scenario, 'CONV', 'CONV', 1.0 FROM scen
              UNION ALL SELECT scenario, 'DROP', 'DROP', 1.0 FROM scen),
      v0 AS MATERIALIZED (SELECT scenario, 'START' AS state, 1.0 AS mass FROM scen),
      $stepCtes,
      res AS MATERIALIZED (SELECT scenario,
                COALESCE(SUM(CASE WHEN state = 'CONV' THEN mass END), 0)
                  AS pconv
              FROM v$K GROUP BY scenario),
      base AS MATERIALIZED (SELECT pconv AS p_base FROM res WHERE scenario = 'base'),
      rem AS MATERIALIZED (SELECT scenario AS channel, pconv AS p_removed
              FROM res WHERE scenario <> 'base'),
      tot AS MATERIALIZED (SELECT SUM(greatest(0, b.p_base - r.p_removed)) AS t
              FROM rem r CROSS JOIN base b)
      SELECT r.channel,
             round(b.p_base, 6) AS p_base,
             round(r.p_removed, 6) AS p_removed,
             round(greatest(0, b.p_base - r.p_removed), 6) AS removal_effect,
             round(CASE WHEN t.t > 0
                        THEN greatest(0, b.p_base - r.p_removed) / t.t
                        ELSE 0.0 END, 6) AS share
      FROM rem r CROSS JOIN base b CROSS JOIN tot t
      ORDER BY r.channel"""
    },

    // p88 runs the SAME split over the alternating-star CC — both
    // strategies label by component minimum, so one oracle serves both
    "p88_group_split_star" -> groupSplitOracle,
    "p86_group_split" -> groupSplitOracle,
    // exact-pair oracle ON PURPOSE: green means the banded minhash path
    // recalled every ≥0.95 pair and reproduced the identical split
    "p97_group_split_minhash" -> groupSplitShingleOracle,

    "p96_pack_windows" -> """
      WITH d AS (SELECT source AS src, doc_id AS id,
               CAST(ceil(n_chars / 4.0) AS BIGINT) AS toks
             FROM documents WHERE ceil(n_chars / 4.0) > 0),
      spans AS (SELECT src, id, toks,
        SUM(toks) OVER (PARTITION BY src ORDER BY id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - toks AS cum_b
        FROM d),
      sb AS (SELECT src, toks, cum_b,
               cum_b // 2048 AS start_bin,
               (cum_b + toks - 1) // 2048 AS end_bin
             FROM spans),
      starts AS (SELECT src, start_bin AS bin,
               CAST(COUNT(*) AS BIGINT) AS n_starts,
               MIN(cum_b - start_bin * 2048) AS first_off,
               MAX(cum_b - start_bin * 2048) AS last_off
             FROM sb GROUP BY src, start_bin),
      enters AS (SELECT src, unnest(range(CAST(start_bin + 1 AS BIGINT),
               CAST(end_bin + 1 AS BIGINT))) AS bin
             FROM sb WHERE end_bin > start_bin),
      ec AS (SELECT src, bin, CAST(COUNT(*) AS BIGINT) AS n_enters
             FROM enters GROUP BY src, bin)
      SELECT COALESCE(s.src, e.src) AS source,
             CAST(COALESCE(s.bin, e.bin) AS BIGINT) AS bin,
             COALESCE(n_starts, 0) AS n_starts,
             COALESCE(n_enters, 0) AS n_enters,
             CAST(first_off AS BIGINT) AS first_off,
             CAST(last_off AS BIGINT) AS last_off
      FROM starts s FULL OUTER JOIN ec e
        ON s.src = e.src AND s.bin = e.bin
      ORDER BY source, bin""",

    "p90_exact_stratified_split" -> """
      WITH u AS (SELECT doc_id AS id, source AS stratum,
        round((('0x' || substr(md5('xsplit:' || CAST(doc_id AS VARCHAR)),
          1, 8))::BIGINT) / 4294967296.0, 8) AS u_r
        FROM documents),
      r AS (SELECT id, stratum, u_r,
              row_number() OVER (PARTITION BY stratum ORDER BY u_r, id) AS rk,
              COUNT(*) OVER (PARTITION BY stratum) AS ns
            FROM u),
      sp AS (SELECT stratum, ns,
              CASE WHEN rk <= floor(ns * 0.8 + 1e-9) THEN 'train'
                   WHEN rk <= floor(ns * 0.9 + 1e-9) THEN 'val'
                   ELSE 'test' END AS split
             FROM r)
      SELECT stratum, split, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(MAX(ns) AS BIGINT) AS n_stratum,
             CAST(CASE split
               WHEN 'train' THEN floor(MAX(ns) * 0.8 + 1e-9)
               WHEN 'val' THEN floor(MAX(ns) * 0.9 + 1e-9)
                 - floor(MAX(ns) * 0.8 + 1e-9)
               ELSE MAX(ns) - floor(MAX(ns) * 0.9 + 1e-9) END AS BIGINT)
               AS exp_n
      FROM sp GROUP BY stratum, split ORDER BY stratum, split""",

    "p91_weighted_sample" -> """
      WITH k AS (SELECT doc_id AS id,
        CAST(length(text) AS DOUBLE) AS weight,
        round(pow(
          (('0x' || substr(md5('wsamp:' || CAST(doc_id AS VARCHAR)),
            1, 8))::BIGINT) / 4294967296.0,
          1.0 / CAST(length(text) AS DOUBLE)), 8) AS key_r
        FROM documents WHERE length(text) > 0)
      SELECT CAST(row_number() OVER (ORDER BY key_r DESC, id) AS BIGINT)
               AS rk, id, weight, key_r
      FROM k ORDER BY key_r DESC, id LIMIT 20""",
    "p87_kcenter_coreset" -> p87Oracle,
  )

  /** p97's oracle: identical split/fold/crossing derivation to
    * [[groupSplitOracle]], but the exact pair set is 3-GRAM SHINGLE
    * Jaccard ≥ 0.9 (what minhashPairs(shingleN=3) measures) instead of
    * token-set Jaccard ≥ 0.95. Pairs come from a shingle inverted index:
    * J ≥ 0.9 > 0 implies a shared shingle, so the postings self-join
    * covers all true pairs and the co-occurrence count IS |A∩B|. */
  private lazy val groupSplitShingleOracle: String = """
      WITH RECURSIVE
      t AS MATERIALIZED (SELECT doc_id AS id,
             list_distinct(list_transform(range(1, greatest(len(tk) - 1, 1)),
               i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS ts
           FROM (SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS tk
                 FROM documents)
           WHERE len(tk) >= 3),
      p AS MATERIALIZED (SELECT id, unnest(ts) AS tok FROM t),
      sz AS MATERIALIZED (SELECT id, len(ts) AS n FROM t),
      inter AS MATERIALIZED (
        SELECT a.id AS i, b.id AS j, COUNT(*) AS c
        FROM p a JOIN p b ON a.tok = b.tok AND a.id < b.id GROUP BY 1, 2),
      prs AS MATERIALIZED (
        SELECT i, j FROM inter
        JOIN sz sa ON sa.id = inter.i JOIN sz sb ON sb.id = inter.j
        WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.9),
      e AS MATERIALIZED (SELECT i AS u, j AS v FROM prs
                         UNION SELECT j, i FROM prs),
      reach(a, b) AS (SELECT u, v FROM e
                      UNION
                      SELECT r.a, e.v FROM reach r JOIN e ON e.u = r.b),
      lbls AS MATERIALIZED (SELECT a AS v, MIN(b) AS mn FROM reach GROUP BY a),
      grp AS MATERIALIZED (
        SELECT d.doc_id,
               LEAST(d.doc_id, COALESCE(l.mn, d.doc_id)) AS grp
        FROM documents d LEFT JOIN lbls l ON l.v = d.doc_id),
      sp AS MATERIALIZED (
        SELECT doc_id, grp,
               CASE WHEN u < 0.8 THEN 'train'
                    WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split
        FROM (SELECT doc_id, grp,
                ('0x' || substr(md5('gsplit:' || CAST(grp AS VARCHAR)),
                  1, 8))::BIGINT / 4294967296.0 AS u
              FROM grp)),
      folds AS (SELECT split, COUNT(*) AS n FROM sp GROUP BY split),
      tot AS (SELECT COUNT(*) AS nt, COUNT(DISTINCT grp) AS n_groups FROM sp),
      cr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
                    CAST(COALESCE(SUM(CASE WHEN si.split <> sj.split
                      THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_crossing
             FROM prs JOIN sp si ON si.doc_id = prs.i
             JOIN sp sj ON sj.doc_id = prs.j)
      SELECT f.split, CAST(f.n AS BIGINT) AS n,
             round(f.n * 1.0 / t.nt, 6) AS frac,
             c.n_pairs, c.n_crossing,
             CAST(t.n_groups AS BIGINT) AS n_groups
      FROM folds f CROSS JOIN tot t CROSS JOIN cr c ORDER BY f.split"""

  private lazy val groupSplitOracle: String = """
      WITH RECURSIVE
      t AS MATERIALIZED (SELECT doc_id AS id,
             list_distinct(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS ts
           FROM documents),
      p AS MATERIALIZED (SELECT id, unnest(ts) AS tok FROM t),
      sz AS MATERIALIZED (SELECT id, len(ts) AS n FROM t),
      inter AS MATERIALIZED (
        SELECT a.id AS i, b.id AS j, COUNT(*) AS c
        FROM p a JOIN p b ON a.tok = b.tok AND a.id < b.id GROUP BY 1, 2),
      prs AS MATERIALIZED (
        SELECT i, j FROM inter
        JOIN sz sa ON sa.id = inter.i JOIN sz sb ON sb.id = inter.j
        WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.95),
      e AS MATERIALIZED (SELECT i AS u, j AS v FROM prs
                         UNION SELECT j, i FROM prs),
      reach(a, b) AS (SELECT u, v FROM e
                      UNION
                      SELECT r.a, e.v FROM reach r JOIN e ON e.u = r.b),
      lbls AS MATERIALIZED (SELECT a AS v, MIN(b) AS mn FROM reach GROUP BY a),
      grp AS MATERIALIZED (
        SELECT d.doc_id,
               LEAST(d.doc_id, COALESCE(l.mn, d.doc_id)) AS grp
        FROM documents d LEFT JOIN lbls l ON l.v = d.doc_id),
      sp AS MATERIALIZED (
        SELECT doc_id, grp,
               CASE WHEN u < 0.8 THEN 'train'
                    WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split
        FROM (SELECT doc_id, grp,
                ('0x' || substr(md5('gsplit:' || CAST(grp AS VARCHAR)),
                  1, 8))::BIGINT / 4294967296.0 AS u
              FROM grp)),
      folds AS (SELECT split, COUNT(*) AS n FROM sp GROUP BY split),
      tot AS (SELECT COUNT(*) AS nt, COUNT(DISTINCT grp) AS n_groups FROM sp),
      cr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
                    CAST(COALESCE(SUM(CASE WHEN si.split <> sj.split
                      THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_crossing
             FROM prs JOIN sp si ON si.doc_id = prs.i
             JOIN sp sj ON sj.doc_id = prs.j)
      SELECT f.split, CAST(f.n AS BIGINT) AS n,
             round(f.n * 1.0 / t.nt, 6) AS frac,
             c.n_pairs, c.n_crossing,
             CAST(t.n_groups AS BIGINT) AS n_groups
      FROM folds f CROSS JOIN tot t CROSS JOIN cr c ORDER BY f.split"""

  private lazy val p87Oracle: String = {
      val K = 8
      val dist = (e: String, s: String) =>
        s"round(1 - list_cosine_similarity(CAST($e.embedding AS DOUBLE[]), " +
          s"CAST($s.embedding AS DOUBLE[])), 8)"
      val ctes = new StringBuilder
      ctes.append(
        "selset1 AS MATERIALIZED (SELECT MIN(vec_id) AS vec_id FROM embeddings)")
      for (i <- 2 to K) {
        val prev = s"selset${i - 1}"
        ctes.append(s""",
          pick$i AS MATERIALIZED (
            SELECT e.vec_id,
                   (SELECT MIN(${dist("e", "s")}) FROM embeddings s
                    WHERE s.vec_id IN (SELECT vec_id FROM $prev)) AS d
            FROM embeddings e
            WHERE e.vec_id NOT IN (SELECT vec_id FROM $prev)
            ORDER BY d DESC, e.vec_id LIMIT 1),
          selset$i AS MATERIALIZED (
            SELECT vec_id FROM $prev UNION ALL SELECT vec_id FROM pick$i)""")
      }
      val out = (s"SELECT CAST(1 AS BIGINT) AS rk, vec_id, " +
        "CAST(NULL AS DOUBLE) AS radius FROM selset1") +:
        (2 to K).map(i =>
          s"SELECT CAST($i AS BIGINT), vec_id, round(d, 6) FROM pick$i")
      s"WITH ${ctes.toString}\n${out.mkString("\nUNION ALL\n")}\nORDER BY rk"
  }
}
