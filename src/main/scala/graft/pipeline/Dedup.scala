package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType}

/** Deduplication operators for document corpora, each designed so that NO
  * stage is O(n²) in the corpus: candidate generation always goes through
  * a banded/bucketed groupBy-shuffle, and exact verification runs only on
  * candidates.
  *
  *   - exact:     hash-groupBy on a normalized fingerprint
  *   - Jaccard:   one core. Every set-Jaccard pair comes out of ONE exact
  *                verify ([[verifyJaccard]]: size filter, sorted-merge
  *                intersect count, J = |A∩B| / (|A|+|B|−|A∩B|)) over
  *                (id, set) frames, fed by one of three candidate
  *                generators:
  *                  - [[jaccardJoin]], the prefix-filtered self-join
  *                    (PPJoin; lossless by proof) over word sets or
  *                    hashed word n-gram shingle sets ([[JaccardSets]]);
  *                  - minhash: shingle → k-slot MinHash → b bands of r
  *                    rows → bucket join (classic LSH; P(candidate) =
  *                    1-(1-s^r)^b), in-corpus or against a landed index;
  *                  - winnowing: shared window-min fingerprints.
  *                Every recall gate compares against ONE truth,
  *                [[jaccardProbeTruth]] (a broadcast probe prefix × corpus).
  *   - simhash:   63-bit signature → 4×16-bit bands → bucket join →
  *                Hamming verify. For maxHamming ≤ 3 the recovery is
  *                EXACT by pigeonhole: 3 flipped bits cannot touch all
  *                4 bands, so every true pair shares at least one band.
  */
object Dedup {

  /** Exact duplicate groups by normalized-text fingerprint. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"), TextOps.fingerprint(col(textCol)).as("fp"))
      .groupBy("fp")
      .agg(count(lit(1)).as("n"), min(col("id")).as("keep_id"))

  /** Near-duplicate pairs (i < j, jaccard ≥ threshold) via banded
    * MinHash-LSH. Returns (i, j, jaccard). */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 64, bands: Int = 16, threshold: Double = 0.5,
                   shingleN: Int = 3, seed: Long = 7): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    val r = k / bands
    // the banded postings are base's only consumer now (the verify tail
    // builds its own compiled hashed-shingle projection), so no persist
    val base = shingled(df, idCol, textCol, shingleN)
    val banded = minhashPostings(base, k, bands, seed)
    val a = banded.select(col("bkt"), col("id").as("i"))
    val b = banded.select(col("bkt"), col("id").as("j"))
    val candidates = a.join(b, Seq("bkt"))
      .filter(col("i") < col("j"))
      .select("i", "j").distinct()

    val sets = graft.operators.Broadcasts.trackedPersist(
      hashedShingled(df, idCol, textCol, shingleN))
    verifyJaccard(candidates, sets, sets, threshold)
  }

  /** MinHash (bucket, id) postings — candidates are the i<j pairs of a
    * self-join on `bkt`, so Σ c·(c−1)/2 over bucket sizes IS the
    * family's candidate volume (what ScalingSpec guards). The exchange
    * is load-bearing: it materializes each signature ONCE. Without it,
    * projection collapse inlines the minhash expression into the banding
    * lambda below and recomputes it per band element; with it, `sig` is
    * a bound attribute, and ReuseExchange shares the shuffle between the
    * two self-join branches. The signature itself is a native Catalyst
    * expression (see MinHashSignatureExpr). */
  private[pipeline] def minhashPostings(base: DataFrame, k: Int, bands: Int,
                                        seed: Long): DataFrame = {
    val r = k / bands
    graft.functions.MinHashSignatureExpr.register(base.sparkSession)
    val sigs = base
      .withColumn("sig", expr(s"graft_minhash_sig(sh, $k, $seed)"))
      .select("id", "sig")
      .repartition(col("id"))
    // band hash per (doc, band): the r signature slots of the band hashed
    // together — candidates are pairs sharing any (band, hash) bucket.
    sigs.select(
      col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(b, slice(col("sig"), b * r + 1, lit(r)))))
        .as(Seq("band", "bandHash")))
      .select(struct(col("band"), col("bandHash")).as("bkt"), col("id"))
  }

  /** The ONE exact set-Jaccard verify: every Jaccard pair this object
    * returns, and every recall gate's truth, comes out of here.
    * `cands` holds (i, j) id pairs; `setsI` and `setsJ` hold (id, set)
    * with each set distinct — sorted `array<long>` surrogates (hashed
    * shingles, hashed word tokens), or token strings on the word join's
    * non-injective fallback. Three measured steps (ProbeWinnow, ×10
    * corpus, 4.7M winnowing candidates, r12):
    *   - the size filter ([[sizeWithin]]) prunes candidates on two
    *     skinny (id, n) joins BEFORE any set is fetched (4.7M → 3.1M
    *     pairs, 1.2 s);
    *   - |A∩B| is an allocation-free linear merge of the sorted longs
    *     inside codegen (graft_sorted_intersect_count) — the swap
    *     Graphs.triangleStats measured 5.0 → 3.1 s at sf0.1 — and
    *     array_intersect only for string sets (the kernel is
    *     long-typed), chosen from the set's element type;
    *   - |A∪B| = |A|+|B|−|A∩B| (sets are distinct), no union pass.
    * Each set frame is read twice (sizes, then sets): callers persist
    * one that is costly to recompute. Returns (i, j, jaccard), J ≥
    * threshold. */
  private[pipeline] def verifyJaccard(cands: DataFrame, setsI: DataFrame,
                                      setsJ: DataFrame,
                                      threshold: Double): DataFrame = {
    val pruned = cands
      .join(setsI.select(col("id").as("i"), size(col("set")).as("n_i")), "i")
      .join(setsJ.select(col("id").as("j"), size(col("set")).as("n_j")), "j")
      .filter(sizeWithin(col("n_i"), col("n_j"), threshold))
      .select("i", "j")
    val inter = setsI.schema("set").dataType match {
      case ArrayType(LongType, _) =>
        graft.functions.VectorExprs.register(cands.sparkSession)
        call_function("graft_sorted_intersect_count", col("a"), col("b"))
      case _ => size(array_intersect(col("a"), col("b"))).cast("long")
    }
    pruned
      .join(setsI.select(col("id").as("i"), col("set").as("a")), "i")
      .join(setsJ.select(col("id").as("j"), col("set").as("b")), "j")
      .withColumn("inter", inter)
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("a")) + size(col("b")) - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("i", "j", "jaccard")
  }

  /** The size filter: J(A, B) ≥ t forces t·|B| ≤ |A| ≤ |B|/t, so a pair
    * outside it cannot pass (AllPairs' length filter). The 1e-9 slack:
    * t·n floats ABOVE the exact integer product for many (n, t) pairs
    * (100·0.55 = 55.000000000000007), and the filter is lossless only
    * if an exact-boundary pair (|A| = t·|B|) survives it. */
  private def sizeWithin(ni: Column, nj: Column, t: Double): Column =
    ni >= lit(t) * nj - lit(1e-9) && nj >= lit(t) * ni - lit(1e-9)

  /** (id, sh_h) postings of a [[hashedShingled]] frame, with shingles
    * in more than `dfCap` docs dropped (`dfCap <= 0` keeps all) — the
    * train-side cap of the containment family ([[contaminationPairs]],
    * [[bloomContaminationPairs]]). Factored out so the cap's
    * candidate-volume effect is testable: a postings self-join's i<j
    * pairs show an ubiquitous shingle's quadratic blow-up. sh_h IS the
    * compiled shingle-hash surrogate. */
  private[pipeline] def shinglePostings(base: DataFrame, dfCap: Int): DataFrame = {
    val posts = base.select(col("id"), explode(col("set")).as("sh_h"))
    if (dfCap <= 0) posts
    else {
      // Anti-join against the HOT set, not inner-join against the rare
      // set: above-cap shingles are a tiny fraction of the key space
      // (that's why the cap works), where the rare set is the size of
      // the whole posting table. "Tiny fraction" is still only bounded
      // by postings/dfCap — unbounded in the corpus — so the hint is
      // size-gated: measured bytes under the cap → broadcast, else the
      // planner shuffles the anti-join.
      val hot = graft.operators.Broadcasts.sizeGated(
        posts.groupBy("sh_h").count()
          .filter(col("count") > dfCap).select("sh_h"))
      posts.join(hot, Seq("sh_h"), "left_anti")
    }
  }

  /** Winnowing (bucket, id) postings — the fingerprint IS the bucket
    * key; factored out so candidate volume is measurable (ScalingSpec). */
  private[pipeline] def winnowingPostings(df: DataFrame, idCol: String,
                                          textCol: String, k: Int = 24,
                                          w: Int = 8): DataFrame =
    df.select(col(idCol).as("id"),
      explode(TextOps.winnowingFingerprints(col(textCol), k, w)).as("bkt"))

  /** The ONE probe truth behind every Jaccard recall gate: each (i, j)
    * with i a `probeSets` document whose id is below `probeMaxId`, j a
    * `corpusSets` document, and J ≥ threshold, exact. The probe prefix
    * is broadcast, so the cost is linear in the corpus and a gate runs
    * at any scale, where the brute-force pair oracle is sf0.01-only (the
    * p80/p28 discipline). Candidates are the size-filtered probe ×
    * corpus pairs, verified by [[verifyJaccard]]; both frames are
    * (id, set) as it reads them. A self-probe (the same frame twice)
    * also returns i == j and j < i: a gate comparing against an i < j
    * pair set filters i < j. Returns (i, j, jaccard). */
  def jaccardProbeTruth(probeSets: DataFrame, corpusSets: DataFrame,
                        probeMaxId: Long, threshold: Double): DataFrame = {
    val probe = probeSets.filter(col("id") < probeMaxId)
    val cands = corpusSets.select(col("id").as("j"), size(col("set")).as("n_j"))
      .join(broadcast(probe.select(col("id").as("i"), size(col("set")).as("n_i"))),
        sizeWithin(col("n_i"), col("n_j"), threshold))
      .select("i", "j")
    verifyJaccard(cands, probe, corpusSets, threshold)
  }

  /** (id, sh): each document's word n-gram shingles as strings — the
    * minhash signature input, whose landed indexes pin the string-keyed
    * hash arithmetic. */
  private[pipeline] def shingled(df: DataFrame, idCol: String, textCol: String,
                                 shingleN: Int = 3): DataFrame =
    df.select(col(idCol).as("id"),
      TextOps.shingles(TextOps.tokens(col(textCol)), shingleN).as("sh"))
      .filter(size(col("sh")) > 0)

  /** The COMPILED hashed twin of [[shingled]]: (id, set) with `set` the
    * document's sorted distinct shingle-hash surrogates (array<long>)
    * straight from ShingleHashesExpr — no interpreted zip_with string
    * chain, no separate xxhash64 pass (~14 s → sub-second over the ×10
    * corpus, ProbeWinnow r12). It is the (id, set) frame
    * [[verifyJaccard]] reads, and every consumer that needs only shingle
    * IDENTITY (postings co-occurrence, sizes, intersections) reads it;
    * [[shingled]] remains for the minhash signature path, whose landed
    * indexes pin the string-keyed hash arithmetic. J over the
    * surrogates equals J over the string shingles modulo 64-bit
    * collisions. */
  def hashedShingled(df: DataFrame, idCol: String, textCol: String,
                     shingleN: Int = 3): DataFrame = {
    graft.functions.ShingleHashesExpr.register(df.sparkSession)
    df.select(col(idCol).as("id"),
      call_function("graft_shingle_hashes", col(textCol), lit(shingleN))
        .as("set"))
      .filter(size(col("set")) > 0)
  }

  /** Near-duplicate pairs via WINNOWING fingerprints: candidates are
    * pairs sharing ≥ minShared rolling-hash window-min fingerprints
    * (docs sharing any substring of length ≥ w+k-1 share one — at prose
    * defaults k=24/w=8 that's a 31-char run, which edit-style near-dups
    * always contain), then exact word-shingle Jaccard verifies. Same
    * bucket-join discipline as the other dedup family members — the
    * fingerprint IS the shuffle key; k is the selectivity dial (short k
    * fires on common phrases: k=8 produced 83k candidate pairs on 500
    * docs, k=24 produced 109 covering all 25 true pairs).
    *
    * `dfCap > 0` drops fingerprints appearing in more than dfCap docs —
    * the same knob as the containment family's train-shingle cap
    * ([[shinglePostings]]), for the same reason: a boilerplate 31-char
    * run shared by a corpus-scale crowd generates quadratic candidates
    * and carries no dedup signal.
    * Measured at the ×10 probe (r12, ProbeWinnow on the density-fixed
    * sf1 corpus): 9 fingerprints with df > 1000 carried 70% of the
    * 2.0·10⁷ candidate volume; the cap keeps 99.6% of postings and cuts
    * candidates to 6.0·10⁶. A capped-away candidate costs recall ONLY
    * for a pair whose every shared fingerprint is hot — true near-dups
    * (J ≥ t) share many — and verification stays exact, so precision is
    * untouched. At the test SFs max df ≈ 250, so the cap is a no-op and
    * oracle results are byte-identical. Pass dfCap = 0 for
    * exact-candidate mode. */
  def winnowingPairs(df: DataFrame, idCol: String, textCol: String,
                     threshold: Double = 0.5, k: Int = 24, w: Int = 8,
                     minShared: Int = 1, dfCap: Int = 1000): DataFrame = {
    // persisted: the fingerprint kernel otherwise re-runs for the
    // hot-set aggregate AND each self-join side (3 corpus scans of the
    // rolling-hash + whitespace-normalize pass — the minhash/ngram
    // family persist discipline applied here too, r12)
    val fps = winnowingPostings(df, idCol, textCol, k, w)
      .transform(graft.operators.Broadcasts.trackedPersist)
    val usable =
      if (dfCap <= 0) fps
      else {
        // anti-join against the HOT set (the shinglePostings discipline):
        // above-cap fingerprints are a tiny fraction of the key space;
        // the hot-set broadcast is size-gated, never assumed
        val hot = graft.operators.Broadcasts.sizeGated(
          fps.groupBy("bkt").agg(count(lit(1)).as("df"))
            .filter(col("df") > dfCap).select("bkt"))
        fps.join(hot, Seq("bkt"), "left_anti")
      }
    // the exchange is load-bearing (the minhashPostings discipline):
    // ReuseExchange shares one shuffle between both self-join branches
    // and the bkt join is co-partitioned
    val parted = usable.repartition(col("bkt"))
    val a = parted.select(col("bkt"), col("id").as("i"))
    val b = parted.select(col("bkt"), col("id").as("j"))
    val candidates = a.join(b, "bkt")
      .filter(col("i") < col("j"))
      .groupBy("i", "j").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select("i", "j")
    val sets = graft.operators.Broadcasts.trackedPersist(
      hashedShingled(df, idCol, textCol, 3))
    verifyJaccard(candidates, sets, sets, threshold)
  }

  /** DECONTAMINATION: benchmark/eval probe docs detected inside a
    * training corpus via a shared-shingle inverted index, cross-set and
    * ASYMMETRIC — the score is containment |T∩E| / |E| (how much of the
    * eval doc appears in the training doc), the standard leakage metric:
    * a long train doc that embeds a whole eval item scores 1.0 where
    * jaccard would dilute it.
    * The probe set (benchmark suites: thousands of docs) is broadcast,
    * so cost is one pass over the train postings + a candidate-only
    * aggregation — never train×eval. `dfCap` caps train-side shingle
    * document frequency ([[shinglePostings]]). Returns
    * (train_id, eval_id, n_common, overlap). */
  def contaminationPairs(train: DataFrame, probe: DataFrame, idCol: String,
                         textCol: String, threshold: Double = 0.5,
                         shingleN: Int = 3, dfCap: Int = 1000): DataFrame = {
    require(threshold > 0, "threshold must be > 0 (overlap > 0 implies a shared shingle)")
    val tBase = hashedShingled(train, idCol, textCol, shingleN)
    val pBase = hashedShingled(probe, idCol, textCol, shingleN)
    val pSized = pBase.select(col("id").as("eval_id"), size(col("set")).as("n_e"))
    val tPosts = shinglePostings(tBase, dfCap)
      .select(col("sh_h"), col("id").as("train_id"))
    val pPosts = shinglePostings(pBase, 0)
      .select(col("sh_h"), col("id").as("eval_id"))
    containmentTail(tPosts, pPosts, pSized, threshold)
  }

  /** Shared verify tail of the two contamination variants: candidate
    * co-occurrence counts → containment score → threshold. Factored so
    * the bloom path's "pair set ≡ exact" invariant cannot drift. */
  private def containmentTail(tPosts: DataFrame, pPosts: DataFrame,
                              pSized: DataFrame, threshold: Double): DataFrame = {
    val inter = tPosts.join(broadcast(pPosts), "sh_h")
      .groupBy("train_id", "eval_id").agg(count(lit(1)).as("n_common"))
    inter.join(broadcast(pSized), "eval_id")
      .withColumn("overlap",
        col("n_common").cast("double") / col("n_e").cast("double"))
      .filter(col("overlap") >= threshold)
      .select("train_id", "eval_id", "n_common", "overlap")
  }

  /** Content-defined chunking (CDC): split every document at positions
    * where the trailing w-char window's rolling hash hits `H % div == 0`
    * (CdcBoundariesExpr — one compiled O(n) pass). Boundaries are
    * decided by CONTENT, not offset: an insertion early in a document
    * shifts every fixed-size chunk after it, but perturbs only the CDC
    * chunks whose windows overlap the edit — which is what makes
    * chunk-level dedup (shared-boilerplate detection, storage dedup)
    * robust to edits. Expected chunk length ≈ div chars.
    *
    * Scan-local end to end: boundary detection, chunk slicing, and
    * hashing all happen inside the row — NOTHING shuffles until a
    * consumer aggregates by chunk_md5, and that shuffle carries only
    * (md5, len) skinny rows if the consumer drops the text first.
    * Returns (doc_id, chunk_id, chunk_start, chunk_len, chunk_md5);
    * empty documents produce no rows, documents shorter than w produce
    * exactly one whole-document chunk. */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
                w: Int = 16, div: Long = 64): DataFrame = {
    graft.functions.CdcBoundariesExpr.register(
      org.apache.spark.sql.SparkSession.active)
    df.select(col(idCol).as("doc_id"), col(textCol).as("t"))
      .withColumn("bs",
        call_function("graft_cdc_boundaries", col("t"), lit(w), lit(div)))
      // starts = 0 :: (b+1 for each boundary); ends = boundaries :: n-1.
      // The final (start > end) pair — text ending exactly on a boundary,
      // or an empty document — is filtered before explode.
      .withColumn("s_arr", concat(array(lit(0)), transform(col("bs"), _ + 1)))
      .withColumn("e_arr", concat(col("bs"), array(length(col("t")) - 1)))
      .withColumn("pr", filter(arrays_zip(col("s_arr"), col("e_arr")),
        p => p.getField("s_arr") <= p.getField("e_arr")))
      .select(col("doc_id"), col("t"), posexplode(col("pr")))
      .select(col("doc_id"),
        col("pos").cast("long").as("chunk_id"),
        col("col.s_arr").cast("long").as("chunk_start"),
        (col("col.e_arr") - col("col.s_arr") + 1).cast("long").as("chunk_len"),
        md5(expr("substring(t, col.s_arr + 1, col.e_arr - col.s_arr + 1)"))
          .as("chunk_md5"))
  }

  /** Landed MinHash posting INDEX of a corpus: the (band, band_hash, id)
    * rows of minhashPostings flattened for parquet, each row stamped with
    * the banding parameters as a constant `params` struct (RLE/dictionary
    * encoding makes the column ~free on disk). The stamp is the index's
    * CONTRACT: a batch probed with different k/bands/seed/shingleN would
    * silently produce disjoint band hashes and near-zero candidates, so
    * incrementalMinhashPairs validates the stamp and fails loudly on a
    * mismatch instead. The point is INCREMENTAL ingestion: the existing
    * corpus is signature-banded once, and every future batch dedups
    * against the landed index without the corpus ever being re-scanned,
    * re-shingled, or re-hashed. */
  def minhashIndex(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 64, bands: Int = 16, shingleN: Int = 3,
                   seed: Long = 7): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    minhashPostings(shingled(df, idCol, textCol, shingleN), k, bands, seed)
      .select(col("bkt.band").as("band"), col("bkt.bandHash").as("band_hash"),
        col("id"),
        struct(lit(k).as("k"), lit(bands).as("bands"),
          lit(shingleN).as("shingle_n"), lit(seed).as("seed")).as("params"))
  }

  /** INCREMENTAL near-dup detection: a NEW batch checked against a
    * landed minhashIndex of the existing corpus. Plan costs, in corpus
    * terms: the new batch (a daily ingest, ≪ corpus) is the only side
    * that gets scanned/shingled/signed in full; the candidate join keys
    * the BATCH postings against the INDEX on (band, band_hash); and
    * exact-Jaccard verification re-shingles only the OLD DOCS THAT
    * APPEAR AS CANDIDATES (a semi-join prunes the corpus scan to them —
    * column pruning + the pushed id filter mean the text column is read
    * for candidate rows only). The batch's banding parameters are checked
    * against the index's embedded `params` stamp — a mismatch means the
    * band hashes can never collide and the result would be silently
    * empty, so it errors instead. Returns (new_id, old_id,
    * jaccard ≥ threshold). */
  def incrementalMinhashPairs(newDocs: DataFrame, index: DataFrame,
                              oldDocs: DataFrame, idCol: String, textCol: String,
                              k: Int = 64, bands: Int = 16,
                              threshold: Double = 0.5, shingleN: Int = 3,
                              seed: Long = 7): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    // validate EVERY distinct stamp, not one sampled row: a mixed-params
    // index (two seeding writers racing, or an append with different
    // knobs) must fail here too — head(1) could sample the matching
    // partition and let the mismatched one silently contribute zero
    // candidates. The distinct aggregate is over an RLE'd constant
    // column: one skinny job, index-partition-count rows at most.
    val stamps = index
      .select("params.k", "params.bands", "params.shingle_n", "params.seed")
      .distinct().collect()
      .map(p => (p.getInt(0), p.getInt(1), p.getInt(2), p.getLong(3)))
    require(stamps.length <= 1,
      s"index carries ${stamps.length} DIFFERENT parameter stamps " +
        s"(${stamps.mkString(", ")}) — it was written by inconsistent " +
        "builders and must be rebuilt")
    stamps.foreach { stamped =>
      require(stamped == ((k, bands, shingleN, seed)),
        s"index was built with (k, bands, shingleN, seed) = $stamped but " +
          s"the batch uses (${(k, bands, shingleN, seed)}) — band hashes " +
          "would never collide; rebuild the index or match its parameters")
    }
    val newBase = shingled(newDocs, idCol, textCol, shingleN)
    val newPosts = minhashPostings(newBase, k, bands, seed)
      .select(col("bkt.band").as("band"), col("bkt.bandHash").as("band_hash"),
        col("id").as("new_id"))
    // candidates feed BOTH the old-doc semi-join and the final verify
    // join; the eager localCheckpoint computes the index join + distinct
    // ONCE (and truncates the plan) — its blocks are released by the
    // ContextCleaner when the result is dropped
    val candidates = newPosts
      .join(index.withColumnRenamed("id", "old_id"), Seq("band", "band_hash"))
      .select("new_id", "old_id").distinct().localCheckpoint()
    val oldCand = oldDocs.join(
      candidates.select(col("old_id").as(idCol)).distinct(),
      Seq(idCol), "left_semi")
    // verify on compiled hashed surrogates; the minhash POSTINGS above
    // keep string shingles — landed index signatures pin that
    // arithmetic. Persisted: the verify reads each side twice.
    val newSets = graft.operators.Broadcasts.trackedPersist(
      hashedShingled(newDocs, idCol, textCol, shingleN))
    val oldSets = graft.operators.Broadcasts.trackedPersist(
      hashedShingled(oldCand, idCol, textCol, shingleN))
    verifyJaccard(candidates.select(col("new_id").as("i"), col("old_id").as("j")),
        newSets, oldSets, threshold)
      .select(col("i").as("new_id"), col("j").as("old_id"), col("jaccard"))
  }

  /** Right-to-be-forgotten RETRACTION: delete a document set from a
    * LANDED minhashIndex without re-signing the surviving corpus — the
    * index is the only artifact rewritten, and the cost is one skinny
    * anti-join on id (the delete list is a takedown/GDPR batch, ≪
    * corpus, and broadcastable when small — left declarative for AQE).
    * The params stamp rides through untouched, so incremental ingest
    * against the retained index keeps working. The caller lands the
    * result and verifies no deleted id survives (the p52 query does,
    * loudly). */
  def retractFromIndex(index: DataFrame, deletes: DataFrame,
                       idCol: String): DataFrame =
    index.join(deletes.select(col(idCol).as("id")).distinct(),
        Seq("id"), "left_anti")
      // the join hoists the key column to the front; restore the index's
      // own column order so the rewritten artifact is schema-identical to
      // the one it replaces (readers pin positions as well as names)
      .select(index.columns.map(col).toIndexedSeq: _*)

  /** BLOOM-PREFILTERED decontamination: same output as contaminationPairs
    * (bloom filters have no false negatives, so the pair set is identical
    * — the DuckDB oracle verifies that), but the train-side postings are
    * screened against a broadcast Bloom filter of the probe's shingle
    * hashes BEFORE the join. The 100 TB argument: the exact broadcast
    * join must probe a hash map of every eval posting for every train
    * posting; the bloom is a bit array `bitsPerKey` bits per eval shingle
    * (~2 MB per million shingles at 16 bits) — 10-50× smaller than the
    * posting map — and the 99%+ of train postings that match nothing are
    * eliminated by `numHashes` codegen'd bit tests without touching the
    * join at all. The filter is BUILT by a Spark aggregate (word-indexed
    * bit_or) with the same seeded-xxhash64 probe arithmetic the test
    * expression uses, so build and probe can never disagree; only the
    * m/64-word bit table is collected. */
  def bloomContaminationPairs(train: DataFrame, probe: DataFrame, idCol: String,
                              textCol: String, threshold: Double = 0.5,
                              shingleN: Int = 3, dfCap: Int = 1000,
                              bitsPerKey: Int = 16, numHashes: Int = 5): DataFrame = {
    require(threshold > 0, "threshold must be > 0 (overlap > 0 implies a shared shingle)")
    val tBase = hashedShingled(train, idCol, textCol, shingleN)
    val pBase = hashedShingled(probe, idCol, textCol, shingleN)
    // ONE cached probe posting set feeds the bloom build's two actions
    // and the returned plan's two probe-side consumers (the containment
    // join and the per-doc shingle counts — shingles are distinct per
    // doc, so count(postings) = |E|); the cache is RELEASED once the
    // build's actions are done (the lazy result then re-derives the
    // small-by-contract probe side rather than leaking a session-lifetime
    // cache entry per call)
    val pPosts = shinglePostings(pBase, 0)
      .select(col("sh_h"), col("id").as("eval_id")).cache()
    val pSized = pPosts.groupBy("eval_id").agg(count(lit(1)).as("n_e"))
    val pKeys = pPosts.select("sh_h").distinct()
    val nKeys = math.max(pKeys.count(), 1L)

    // m = bits, power of two so `& (m-1)` replaces mod; the k probe
    // indices are k INDEPENDENT hashes xxhash64(h, i) — re-hashing beats
    // the classic h1+i·h2 double-hashing here because Spark 4 runs ANSI
    // arithmetic (the multiply would overflow-error on uniform 64-bit
    // values) and xxhash64 is one codegen'd call either way
    val m = java.lang.Long.highestOneBit(
      math.max(nKeys * bitsPerKey * 2 - 1, 64L))
    def probeIdx(h: Column): Seq[Column] = (0 until numHashes).map(i =>
      xxhash64(h, lit(i)).bitwiseAND(lit(m - 1L)))

    val words = pKeys
      .select(explode(array(probeIdx(col("sh_h")): _*)).as("idx"))
      .select(expr("idx DIV 64").as("w"), expr("CAST(idx % 64 AS INT)").as("b"))
      .groupBy("w").agg(expr("bit_or(shiftleft(1L, b))").as("bits"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    pPosts.unpersist()
    val bitTable = Array.tabulate((m / 64).toInt)(i => words.getOrElse(i.toLong, 0L))
    val bitsLit = lit(bitTable)
    val pow2 = lit(Array.tabulate(64)(1L << _))
    val mayMatch = probeIdx(col("sh_h")).map { ix =>
      (element_at(bitsLit, (ix / 64).cast("long").cast("int") + 1)
        .bitwiseAND(element_at(pow2, (ix % 64).cast("int") + 1))) =!= 0L
    }.reduce(_ && _)

    val tPosts = shinglePostings(tBase, dfCap)
      .filter(mayMatch)
      .select(col("sh_h"), col("id").as("train_id"))
    containmentTail(tPosts, pPosts, pSized, threshold)
  }

  /** Cross-document DUPLICATED-SPAN profile (the line-oriented cousin of
    * Lee et al. 2022's suffix-array substring dedup, approximated at the
    * token-window level so it distributes): every `window`-token sliding
    * window is hashed, windows whose hash appears in ≥ 2 documents are
    * "duplicated spans", and each document reports what fraction of its
    * distinct windows is duplicated — the signal used to strip boilerplate
    * and verbatim-copied passages from training corpora. Plan shape:
    * explode → two skinny aggregates (per-window doc frequency, then
    * per-doc rollup) — NO pair materialization anywhere, so unlike the
    * pair-reporting dedup family this profile is linear in the corpus no
    * matter how pathological the duplication is. Spark groups on the
    * 64-bit xxhash64 of the window (a 100 TB shuffle carries 8-byte keys,
    * not 8-gram strings); the oracle groups on the window string itself —
    * the gate would catch a collision, and at 2^-64 per pair none occurs.
    * The doc frequency is a COUNT WINDOW over the posting partition, not
    * a groupBy re-joined onto the postings: the join shape scans and
    * re-builds the postings on both sides and shuffles three times
    * (measured 6.5 s at sf0.1 vs 3.5 s for this shape) — the window
    * needs the full posting rows shuffled by wh exactly once, which the
    * per-doc rollup's id shuffle then consumes. Returns (id, n_windows,
    * n_dup_windows, dup_frac). */
  def dupSpanProfile(df: DataFrame, idCol: String, textCol: String,
                     window: Int = 8): DataFrame = {
    val posts = hashedShingled(df, idCol, textCol, window)
      .select(col("id"), explode(col("set")).as("wh"))
    // shingles are distinct per doc, so the partition count = doc frequency
    val byWindow = org.apache.spark.sql.expressions.Window.partitionBy("wh")
    posts.withColumn("ndocs", count(lit(1)).over(byWindow))
      .groupBy("id").agg(
        count(lit(1)).as("n_windows"),
        sum(when(col("ndocs") > 1, 1L).otherwise(0L)).as("n_dup_windows"))
      .withColumn("dup_frac", col("n_dup_windows").cast("double") /
        col("n_windows").cast("double"))
  }

  /** DUPLICATED-SPAN REMOVAL — the enforcement half of Lee et al. 2022's
    * substring dedup (dupSpanProfile is the measurement half): every
    * token covered by a `window`-token span that appears in ≥ 2 documents
    * is cut, and the document is rebuilt from the surviving tokens.
    * Overlapping duplicated windows merge naturally (a token is removed
    * if ANY covering window is duplicated). Plan: position-aligned window
    * postings → distinct-doc frequency (two skinny aggregates, map-side
    * partials) → per-doc duplicated-start lists (bounded by doc length)
    * joined back → a scan-local indexed filter rebuilds the text. No pair
    * materialization; linear in the corpus like the profile. Returns
    * (id, n_toks, n_removed, clean_md5). */
  def dupSpanRemoval(df: DataFrame, idCol: String, textCol: String,
                     window: Int = 8): DataFrame = {
    val base = df.select(col(idCol).as("id"),
      TextOps.tokens(col(textCol)).as("toks"))
    // (id, pos, wh): pos is 1-based token position of the window start
    val posts = base.select(col("id"),
        posexplode(TextOps.shinglesRaw(col("toks"), window)).as(Seq("pos0", "w")))
      .filter(col("w").isNotNull)
      .select(col("id"), (col("pos0") + 1).as("pos"), xxhash64(col("w")).as("wh"))
    // windows can repeat WITHIN a doc here, so doc frequency needs the
    // distinct (id, wh) projection before counting
    val docFreq = posts.select("id", "wh").distinct()
      .groupBy("wh").agg(count(lit(1)).as("ndocs"))
    val dupStarts = posts
      .join(docFreq.filter(col("ndocs") > 1).select("wh"), "wh")
      .groupBy("id").agg(collect_list(col("pos")).as("starts"))
    base.join(dupStarts, Seq("id"), "left")
      .select(col("id"), col("toks"),
        coalesce(col("starts"), array().cast("array<int>")).as("starts"))
      .select(col("id"), col("toks"), col("starts"),
        // token at 1-based position i+1 survives unless a duplicated
        // window starting at s covers it (s ≤ i+1 < s+window)
        filter(col("toks"), (t, i) => !exists(col("starts"),
          s => s <= i + 1 && i + 1 < s + lit(window))).as("kept"))
      .select(col("id"),
        size(col("toks")).cast("long").as("n_toks"),
        (size(col("toks")) - size(col("kept"))).cast("long").as("n_removed"),
        md5(array_join(col("kept"), " ")).as("clean_md5"))
  }

  /** SimHash signatures (id, sig) — compiled single-pass kernel
    * (one XXH64 per feature + 63 affine sign votes, see SimHash64Expr).
    * Features are word 3-SHINGLES, not unigram tokens: unigram features
    * are dominated by the corpus's shared vocabulary, so unrelated docs
    * get correlated signatures and band buckets cluster quadratically
    * (measured on the testdata corpus: 315k candidate pairs at 5000 docs
    * vs a 763-pair uniform-collision floor; shingle features put it back
    * near the floor — ScalingSpec pins the model). Shingle features are
    * the standard simhash practice for near-dup detection [Manku et al.,
    * WWW'07 use weighted multi-word features for the same reason]. */
  def simhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        seed: Long = 11): DataFrame = {
    graft.functions.VectorExprs.register(df.sparkSession)
    df.select(col(idCol).as("id"),
      call_function("graft_simhash64",
        TextOps.shingles(TextOps.tokens(col(textCol)), 3), lit(seed)).as("sig"))
  }

  /** Near-duplicate pairs by Hamming distance over SimHash signatures;
    * exact for maxHamming ≤ 3 (4 bands, pigeonhole). Returns (i, j, hamming). */
  def simhashPairs(sigs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val banded = simhashBanded(sigs)
    val a = banded.select(col("bkt"), col("id").as("i"), col("sig").as("sig_i"))
    val b = banded.select(col("bkt"), col("id").as("j"), col("sig").as("sig_j"))
    a.join(b, Seq("bkt"))
      .filter(col("i") < col("j"))
      .withColumn("hamming", bit_count(col("sig_i").bitwiseXOR(col("sig_j"))))
      .filter(col("hamming") <= maxHamming)
      .select("i", "j", "hamming").distinct()
  }

  /** SimHash (bucket, id, sig) postings: 4 × 16-bit bands (pigeonhole:
    * any pair at hamming ≤ 3 agrees on ≥ 1 whole band) — factored out so
    * candidate volume is measurable (ScalingSpec). */
  private[pipeline] def simhashBanded(sigs: DataFrame): DataFrame = {
    val nBands = 4
    sigs.select(
      col("id"), col("sig"),
      posexplode(array((0 until nBands).map(b =>
        shiftrightunsigned(col("sig"), b * 16).bitwiseAND(lit(0xFFFFL))): _*))
        .as(Seq("band", "bandVal")))
      .select(struct(col("band"), col("bandVal")).as("bkt"), col("id"), col("sig"))
  }

  /** Canonical-keep — the DECISION half of near-dup dedup: given cluster
    * labels (v, lbl) from connected components and a per-doc quality
    * score, keep exactly one doc per cluster (best score, ties to the
    * smallest id — the deterministic argmax). One skinny join to attach
    * scores + one per-cluster window over (v, lbl, score) rows; dedup
    * clusters are small by construction (they are near-DUPLICATES), so
    * the window partitions stay tiny at any corpus size. Any scalar
    * quality column plugs in as the score (length, Gopher keep-score,
    * unigram NLL…). Returns (doc_id, cluster, score, keep). */
  def canonicalKeep(labels: DataFrame, docs: DataFrame, idCol: String,
                    scoreCol: String): DataFrame = {
    // the score column keeps its ORIGINAL type in the output, but the
    // argmax ranks on its double view — a long cast would truncate the
    // fractional scores the contract advertises (a Gopher keep-score in
    // [0,1] would rank every cluster as all-ties and "keep" the
    // smallest id regardless of quality)
    val scored = labels.join(
      docs.select(col(idCol).cast("long").as("v"), col(scoreCol).as("score")),
      "v")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lbl").orderBy(col("score").cast("double").desc, col("v"))
    scored.select(col("v").as("doc_id"), col("lbl").as("cluster"),
      col("score"), (row_number().over(w) === 1).as("keep"))
  }

  /** Measured storage footprint of an eager localCheckpoint, read
    * straight off the block manager (memSize + diskSize of the backing
    * RDD) — NO extra Spark job. None when the frame is not a
    * materialized checkpoint. */
  private def checkpointBytes(df: DataFrame): Option[Long] = {
    val sc = df.sparkSession.sparkContext
    df.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }.flatMap(id => sc.getRDDStorageInfo.find(_.id == id))
      .map(i => i.memSize + i.diskSize)
  }

  /** Release the executor-local blocks behind an eager localCheckpoint
    * once a newer round's checkpoint has consumed them. */
  private def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.foreach(_.unpersist(false))

  // ---- LOCAL (driver union-find) CC fast path -------------------------
  // The star loop broadcasts its node-bounded minima tables EVERY ROUND
  // when the measured edge bytes fit the hint cap — so for a graph that
  // small, the component structure is bounded driver metadata by the
  // same argument, and a single O(E·α(E)) union-find replaces 5–10
  // distributed rounds (each round: broadcast builds + a checkpoint
  // materialization + a convergence aggregate — measured ~0.4–0.6 s of
  // pure fixed cost per round at sf0.1, data volume irrelevant). The
  // gate is MEASURED, never assumed: the bytes of the canonical edge
  // checkpoint the loop was about to build anyway, so the local path
  // never adds a recompute of a heavy pair plan. Past the cap the
  // distributed loop runs unchanged (the 100 TB path). Both converge to
  // the component-minimum label — CurationSpec pins the equality as a law.

  /** Conf key for the local-CC byte cap; 0 forces the distributed loop
    * (specs exercising loop semantics set it). */
  val CcLocalMaxBytesConf = "graft.cc.localMaxBytes"

  /** Default local-CC cap: 64 MB of measured checkpoint bytes (≈2M edge
    * rows) — far under driver heap, and a size where the distributed
    * loop's per-round fixed costs dwarf the collect. */
  val CcLocalDefaultMaxBytes: Long = 64L << 20

  private def ccLocalCap(df: DataFrame): Long =
    df.sparkSession.conf.getOption(CcLocalMaxBytesConf).map(_.toLong)
      .getOrElse(CcLocalDefaultMaxBytes)

  /** Union-find over collected (a, b) rows → (node, component-min) pairs,
    * under the one CC contract: rows that are self-loops or have a null
    * endpoint are ignored, and a node is labelled iff it has an edge to a
    * different node. Path-halving find + union-by-size. */
  private[pipeline] def unionFindLabels(rows: Array[org.apache.spark.sql.Row])
      : Array[(Long, Long)] = {
    val idx = new java.util.HashMap[java.lang.Long, Integer](rows.length * 2)
    val nodes = new scala.collection.mutable.ArrayBuffer[Long](rows.length)
    def nodeId(x: Long): Int = {
      val got = idx.get(x)
      if (got != null) got.intValue()
      else { val n = nodes.length; idx.put(x, n); nodes += x; n }
    }
    // first pass registers nodes so the parent array can size once;
    // ignored rows keep -1 endpoints
    var r = 0
    val ab = Array.fill(rows.length * 2)(-1)
    while (r < rows.length) {
      val row = rows(r)
      if (!row.isNullAt(0) && !row.isNullAt(1)
          && row.getLong(0) != row.getLong(1)) {
        ab(2 * r) = nodeId(row.getLong(0))
        ab(2 * r + 1) = nodeId(row.getLong(1))
      }
      r += 1
    }
    val parent = Array.tabulate(nodes.length)(identity)
    val size = Array.fill(nodes.length)(1)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    r = 0
    while (r < rows.length) {
      val ai = ab(2 * r); val bi = ab(2 * r + 1)
      if (ai >= 0) {
        val ra = find(ai); val rb = find(bi)
        if (ra != rb) {
          if (size(ra) >= size(rb)) { parent(rb) = ra; size(ra) += size(rb) }
          else { parent(ra) = rb; size(rb) += size(ra) }
        }
      }
      r += 1
    }
    // component minimum per root, then one labeling pass
    val minOf = new Array[Long](nodes.length)
    java.util.Arrays.fill(minOf, Long.MaxValue)
    var i = 0
    while (i < nodes.length) {
      val root = find(i)
      if (nodes(i) < minOf(root)) minOf(root) = nodes(i)
      i += 1
    }
    val out = new Array[(Long, Long)](nodes.length)
    i = 0
    while (i < nodes.length) { out(i) = (nodes(i), minOf(find(i))); i += 1 }
    out
  }

  /** Build the (v, lbl) label frame from local union-find output. The
    * frame is provably under the local cap (it was just collected), so
    * it carries the broadcast hint every consumer join wants; parallelize
    * (not a LocalRelation literal) keeps large label sets out of the
    * logical plan. */
  private def labelsFrame(spark: org.apache.spark.sql.SparkSession,
                          labels: Array[(Long, Long)]): DataFrame = {
    import org.apache.spark.sql.types.{StructField, StructType}
    val schema = StructType(Seq(
      StructField("v", LongType, nullable = false),
      StructField("lbl", LongType, nullable = false)))
    val slices = math.max(1, labels.length / 500000)
    val rdd = spark.sparkContext.parallelize(
      labels.toIndexedSeq.map(t => org.apache.spark.sql.Row(t._1, t._2)), slices)
    broadcast(spark.createDataFrame(rdd, schema))
  }

  /** Connected components over PAIRS (i, j) → per-node cluster labels
    * (v, lbl), label = min node id in the component — the step that turns
    * a near-dup pair report into actionable dedup: one canonical keep per
    * cluster, everything else dropped. Contract: rows that are
    * self-loops or have a null endpoint are ignored, and a node is
    * labelled iff it has an edge to a different node (callers that need
    * every doc labelled left-join the labels back, as groupSplitDf does).
    *
    * Under the measured local cap the labels come from a driver-side
    * union-find (block comment above [[unionFindLabels]]); past it, by
    * ALTERNATING LARGE-STAR/SMALL-STAR [Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC 2014]: star contraction
    * rewires every node toward its neighborhood minimum and provably
    * converges in O(log² n) rounds (O(log n) in practice) REGARDLESS of
    * diameter — label propagation needs one round per hop, and chained
    * similarity builds long paths (web link graphs, transitive near-dup
    * chains).
    *
    * Both phases are one groupBy + one join on skinny (node, node) rows:
    *   large-star: each node u points its LARGER neighbors at
    *               m(u) = min(Γ(u) ∪ {u})
    *   small-star: each node u points its SMALLER neighbors (and itself)
    *               at the minimum of those
    * Converged when the edge multiset is stable; then every edge is
    * (v, component-min) — a star — and the labels fall out directly.
    * Convergence is ONE action per round: the (count, hash-xor) signature
    * of the new edge set, compared to the previous round's (xor is
    * order-independent and cannot overflow; edges are distinct, so xor
    * cancellation needs a full hash collision).
    *
    * `maxIter` bounds the DISTRIBUTED loop's round count (ADVICE r13) —
    * a resource budget, not a semantic truncation knob: the union-find
    * returns the converged labels without consuming rounds, so a
    * small-maxIter call can succeed on a small input where a big input
    * would throw non-convergence. `allowPartial` returns the
    * not-yet-minimal labels instead of throwing. Callers that exercise
    * loop semantics must force the loop with `graft.cc.localMaxBytes = 0`,
    * as the specs do. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 30,
                          allowPartial: Boolean = false): DataFrame = {
    // each phase references the edge set FOUR times (symmetrize + join
    // back onto the per-node minima), so the logical plan grows ~16× per
    // round — cache alone keeps the DATA but not the plan, and ten rounds
    // of that OOMs the planner. localCheckpoint (eager) truncates lineage
    // every round: executor-local blocks, no reliable-storage round trip;
    // a multi-hour production run on preemptible executors would swap in
    // checkpoint() against the cluster checkpoint dir — same plan shape.
    // The superseded round's checkpoint blocks are released explicitly
    // (the eager checkpoint of `next` has already consumed them) so peak
    // storage is two edge sets, not one per round.
    var edges = pairs
      .select(col("i").cast("long").as("a"), col("j").cast("long").as("b"))
      .filter(col("a") =!= col("b")).distinct().localCheckpoint()
    // LOCAL fast path: the canonical edge checkpoint the loop needs
    // anyway just materialized — its measured bytes are free, and
    // collecting its blocks recomputes nothing
    val edgeBytes = checkpointBytes(edges)
    if (edgeBytes.exists(_ <= ccLocalCap(pairs))) {
      val rows = edges.collect()
      releaseCheckpoint(edges)
      return labelsFrame(pairs.sparkSession, unionFindLabels(rows))
    }
    // per-round join strategy, decided ONCE from the EDGE checkpoint's
    // measured bytes: the per-node minima tables are strictly smaller
    // than the edge set (grouped per node, skinnier rows), so
    // edges-under-cap ⇒ minima-under-cap; edges-over-cap conservatively
    // shuffles even if the node table alone would fit — never a bad
    // broadcast, and no distinct+count job just to size the hint.
    // Unmeasured bytes (no storage entry) earn no hint.
    val bcast = graft.operators.Broadcasts.hintWithinCap(pairs.sparkSession,
      BigInt(edgeBytes.getOrElse(Long.MaxValue)))
    // Each round is largeStar ∘ smallStar with ONE dedup at the end:
    // largeStar emits strictly-oriented rows (a > b: it attaches only
    // larger neighbors to the per-node minimum, and m < b by
    // construction), so smallStar's textbook greatest/least
    // canonicalization is a no-op here, and intermediate duplicates ride
    // to smallStar's single closing distinct — dropping two of the five
    // per-round shuffles the literal formulation pays. Duplicate volume
    // between the dedups is bounded by the symmetrized edge set.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("a"), col("b"))
        .unionByName(e.select(col("b").as("a"), col("a").as("b")))
      val mins = sym.groupBy("a").agg(min(col("b")).as("nmin"))
        .select(col("a"), least(col("a"), col("nmin")).as("m"))
      sym.join(bcast(mins), "a").filter(col("b") > col("a"))
        .select(col("b").as("a"), col("m").as("b"))
    }
    // PRECONDITION (local helper): `e` is largeStar output — oriented
    // a > b, self-loop-free, possibly with duplicate rows.
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy("a").agg(min(col("b")).as("m"))
      e.join(bcast(mins), "a")
        .select(col("b").as("a"), col("m").as("b"))
        .filter(col("a") =!= col("b"))
        .unionByName(mins.select(col("a"), col("m").as("b")))
        .distinct()
    }
    var sig = (-1L, -1L)
    var it = 0
    var converged = false
    while (!converged && it < maxIter) {
      // lazy: the signature aggregate is the round's first action, so
      // one job materializes the checkpoint AND reads the signature
      val next = smallStar(largeStar(edges)).localCheckpoint(false)
      val row = next.agg(count(lit(1)),
        coalesce(bit_xor(xxhash64(col("a"), col("b"))), lit(0L))).head()
      val nextSig = (row.getLong(0), row.getLong(1))
      releaseCheckpoint(edges)
      edges = next
      converged = nextSig == sig
      sig = nextSig
      it += 1
    }
    require(converged || allowPartial,
      s"connectedComponents did not converge in $maxIter rounds; " +
        "raise maxIter or pass allowPartial")
    // stars: every edge is (member, root); roots label themselves
    edges.select(col("a").as("v"), col("b").as("lbl"))
      .unionByName(edges.select(col("b").as("v"), col("b").as("lbl")))
      .groupBy("v").agg(min(col("lbl")).as("lbl"))
  }

  /** The set a document contributes to [[jaccardJoin]]: its distinct
    * `elements` and a long `surrogate` per element, on which the join
    * keys its candidates and the verify intersects. */
  sealed trait JaccardSets {
    private[pipeline] def elements(text: Column): Column
    private[pipeline] def surrogate(elem: Column): Column
  }

  /** Distinct word tokens ([[TextOps.tokens]]). The surrogate is the
    * token's xxhash64, which must be a BIJECTION of the vocabulary for
    * |A∩B| to be exact: the join checks that on each corpus and falls
    * back to token-string sets on a collision. */
  case object WordSets extends JaccardSets {
    private[pipeline] def elements(text: Column): Column =
      array_distinct(TextOps.tokens(text))
    private[pipeline] def surrogate(elem: Column): Column = xxhash64(elem)
  }

  /** Hashed word n-gram shingles (graft_shingle_hashes, the
    * [[hashedShingled]] sets): already distinct longs, so each element
    * is its own surrogate and there is no vocabulary to check. J over
    * them equals J over the string shingles modulo 64-bit collisions. */
  final case class ShingleSets(n: Int) extends JaccardSets {
    private[pipeline] def elements(text: Column): Column =
      call_function("graft_shingle_hashes", text, lit(n))
    private[pipeline] def surrogate(elem: Column): Column = elem
  }

  /** The join's pairs plus the PERSISTED per-document set table it
    * verified: `docSets` is (id, set), each document's set as sorted
    * long surrogates (or token strings on the astronomically-rare
    * non-injective word corpus — either way Jaccard over `set` EQUALS
    * Jaccard over the extracted sets). A recall gate derives its
    * [[jaccardProbeTruth]] from `docSets` instead of re-extracting the
    * corpus: one extraction feeds the join AND its audit, so a probe miss
    * can only mean pruning dropped a pair, never an extraction drift. */
  final case class PrefixJoin(pairs: DataFrame, docSets: DataFrame)

  /** EXACT set-Jaccard self-join by PREFIX FILTERING (Bayardo et al.
    * AllPairs / Xiao et al. PPJoin, WWW 2008) over the sets `sets`
    * extracts — word tokens (p80, p86) or hashed n-gram shingles (p10).
    *
    * Principle: order the elements globally by (df asc, element) —
    * rarest first — and take each record's first |x| − ⌈t·|x|⌉ + 1
    * elements under that order as its prefix. If J(x,y) ≥ t the two
    * prefixes MUST share an element (pigeonhole on the required
    * overlap), so the candidate join runs over prefix postings only:
    * each record contributes ~(1−t)·|x| postings, and they are its
    * RAREST elements, exactly the ones with short posting lists. No
    * recall is lost — unlike a document-frequency cap, which drops true
    * pairs whose every shared element is frequent, prefix filtering
    * prunes with a proof.
    *
    * Plan: one vocab aggregate, a size-gated broadcast rank join (a
    * vocab is megabytes at any corpus scale — same argument as tfidf),
    * one per-record aggregate for the prefix cut, the prefix-postings
    * self-join, then [[verifyJaccard]] on the candidate pairs only. The
    * candidate volume still depends on the df of rare elements — a
    * degenerate corpus whose rarest elements are hot (tiny vocab)
    * degrades toward the full inverted index, with correctness intact.
    *
    * Returns (i, j, jaccard) with i < j, J ≥ threshold, exact, and the
    * verified `docSets`. */
  def jaccardJoin(df: DataFrame, idCol: String, textCol: String,
                  threshold: Double, sets: JaccardSets): PrefixJoin = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1], got $threshold")
    // posts feeds TWO consumers (the vocab aggregate and the rank join)
    // — persist the skinny (id, tok) frame so extraction + explode runs
    // once; docAgg feeds the prefix slice (both self-join sides) AND the
    // verify set table. Un-persisted, each consumer replays the
    // extraction and the id aggregate (measured 21.6 s -> ~8 s at sf0.1
    // in r7 from these persists). Corpus-linear and skinny;
    // MEMORY_AND_DISK spills rather than OOMs.
    val posts = graft.operators.Broadcasts.trackedPersist(
      setPostings(df, idCol, textCol, sets))
    // ONE job materializes the vocab cache (the broadcast gate measures
    // it) and, for word sets, answers surrogate injectivity; shingle
    // hashes are their own surrogates, so their count only materializes
    val (voc, injective) = sets match {
      case WordSets =>
        val voc0 = graft.operators.Broadcasts.trackedPersist(vocabOf(posts))
        val r = voc0.agg(count(lit(1)), countDistinct(xxhash64(col("tok")))).head()
        (graft.operators.Broadcasts.gateMaterialized(voc0), r.getLong(0) == r.getLong(1))
      case ShingleSets(_) =>
        (graft.operators.Broadcasts.sizeGated(vocabOf(posts)), true)
    }
    val docAgg = graft.operators.Broadcasts.trackedPersist(
      docOrder(posts.join(voc, "tok")))
    // no persist on pref: both self-join sides re-derive it from the
    // docAgg cache with a scan-local slice+posexplode — no shuffle
    val pref = prefixSlice(docAgg, threshold, sets)
    // join on the LONG surrogate, not the element: the probe hashes the
    // key once per posting pair, and long hashing beats string hashing.
    // A collision between distinct tokens can only ADD candidate rows (a
    // superset join); it cannot drop a true pair (same token => same
    // hash), and the verify stays exact.
    val a = pref.select(col("h"), col("id").as("i"), col("n").as("ni"),
      col("pos").as("pa"))
    val b = pref.select(col("h"), col("id").as("j"), col("n").as("nj"),
      col("pos").as("pb"))
    // LENGTH filter ([[sizeWithin]], the second PPJoin prune, equally
    // lossless): cross-length candidates die INSIDE the join before any
    // pair materializes downstream — measured 13.4M -> 3.4M at t=0.95 on
    // the bounded-vocab corpus.
    // POSITIONAL filter (PPJoin's third lossless prune, Xiao et al. §3):
    // for a shared element at rank positions (pa, pb), common elements
    // ranked below it number at most min(pa,pb)-1 (they precede it in
    // BOTH records) and those ranked at-or-above at most 1 +
    // min(ni-pa, nj-pb), so overlap(x,y) <= min(pa,pb) + min(ni-pa,
    // nj-pb). J >= t forces overlap >= ceil(t/(1+t)*(ni+nj)) =: alpha;
    // the bound holds for EVERY shared prefix element, so dropping
    // candidate rows with ubound < alpha loses no true pair. The 1e-9
    // slack keeps a float-exact alpha from rounding up and pruning a
    // boundary pair.
    val alpha = ceil((col("ni") + col("nj")) * lit(threshold / (1.0 + threshold))
      - lit(1e-9))
    val cands = a.join(b, "h")
      .filter(col("i") < col("j") &&
        sizeWithin(col("ni"), col("nj"), threshold) &&
        (least(col("pa"), col("pb")) +
          least(col("ni") - col("pa"), col("nj") - col("pb"))) >= alpha)
      .select("i", "j").distinct()
    // The verify set table, derived from the docAgg cache (a field
    // projection over the sorted struct array — scan-local, no second
    // groupBy over the postings); sizeGated's count doubles as docAgg's
    // materializing action. The surrogates SORT ONCE per document
    // (scan-local) for the verify's linear-merge intersect; the
    // astronomically-rare non-injective word corpus keeps token-string
    // sets, which the verify intersects by hash set instead — exact by
    // construction, never exact-with-high-probability (collision odds
    // ~ V²/2⁶⁴ ≈ 0.03 even at 10⁹ tokens). The table is corpus-linear
    // (one row per document), so the broadcast hint is applied ONLY
    // under Broadcasts.sizeGated's measured byte cap: an explicit hint
    // is honored regardless of autoBroadcastJoinThreshold and would
    // fail outright (8 GB limit / driver OOM) past it, where the gate
    // instead emits no hint and the planner shuffles.
    val setExpr =
      if (injective) array_sort(transform(col("ts"), t => sets.surrogate(t.getField("tok"))))
      else transform(col("ts"), t => t.getField("tok"))
    val docSets = graft.operators.Broadcasts.sizeGated(
      docAgg.select(col("id"), setExpr.as("set")))
    PrefixJoin(verifyJaccard(cands, docSets, docSets, threshold), docSets)
  }

  /** Distinct (id, tok) postings: each document's extracted elements. */
  private def setPostings(df: DataFrame, idCol: String, textCol: String,
                          sets: JaccardSets): DataFrame = {
    graft.functions.ShingleHashesExpr.register(df.sparkSession)
    df.select(col(idCol).as("id"), sets.elements(col(textCol)).as("ts"))
      .filter(size(col("ts")) > 0)
      .select(col("id"), explode(col("ts")).as("tok"))
  }

  /** (tok, tdf): each element's corpus document frequency. The PPJoin
    * machinery needs the elements ORDERED rarest-first, which (tdf, tok)
    * provides directly as a sort key — no stage needs rank VALUES, so
    * there is no global sort (r9), and the vocab aggregate goes straight
    * to the size-gated join (a vocabulary obeys Heaps' law — 10^8-10^9
    * tokens at web scale, past any unconditional broadcast). */
  private def vocabOf(posts: DataFrame): DataFrame =
    posts.groupBy("tok").agg(count(lit(1)).as("tdf"))

  /** ONE shuffle: each document's (tdf, tok) array sorted rarest-first
    * (record sets are bounded — documents have bounded distinct
    * elements — so the array state is small). r8 paid two full windows
    * over every posting instead. */
  private def docOrder(rankedPosts: DataFrame): DataFrame =
    rankedPosts.groupBy("id")
      .agg(array_sort(collect_list(struct(col("tdf"), col("tok")))).as("ts"))

  /** From the per-doc sorted (tdf, tok) array, emit each record's first
    * |x| - ceil(t*|x|) + 1 elements as (tok, h, id, n, pos): `h` the
    * element's surrogate, `pos` its 1-based position (for the positional
    * filter), `n` the record's set size. Slice and posexplode are
    * scan-local on the docAgg cache. */
  private def prefixSlice(docAgg: DataFrame, threshold: Double,
                          sets: JaccardSets): DataFrame = {
    docAgg
      .withColumn("n", size(col("ts")))
      // 1e-9 slack: n·t floats above the exact integer product for many
      // (n, t) pairs (100·0.55 → ceil 56, not 55), which would shorten
      // the prefix by one element and silently lose boundary true pairs
      // — the same guard alpha carries. Slack only ever LENGTHENS the
      // prefix, adding candidates the exact verify then rejects.
      .withColumn("plen",
        (col("n") - ceil(col("n") * lit(threshold) - lit(1e-9)) + 1).cast("int"))
      .select(col("id"), col("n"),
        posexplode(slice(col("ts"), lit(1), col("plen"))).as(Seq("p0", "t")))
      .select(col("t.tok").as("tok"), sets.surrogate(col("t.tok")).as("h"),
        col("id"), col("n"), (col("p0") + 1).as("pos"))
  }

  /** Prefix-postings candidate volume vs the full inverted index — the
    * measurable pruning claim behind [[jaccardJoin]]. */
  private[pipeline] def prefixPostings(df: DataFrame, idCol: String,
                                       textCol: String, threshold: Double,
                                       sets: JaccardSets): DataFrame = {
    val posts = setPostings(df, idCol, textCol, sets)
    prefixSlice(docOrder(posts.join(
      graft.operators.Broadcasts.sizeGated(vocabOf(posts)), "tok")), threshold, sets)
  }
}
