package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search, dedup and data selection over an embedding column
  * (`vec_id`, `embedding: Array[Float]`).
  *
  *   - Exact, with one small side broadcast — the truths every
  *     approximate path is graded against: [[cosine]] and [[l2sq]] (the
  *     scores), [[bruteForceTopK]] / [[bruteForceTopKL2]] (top-k of a
  *     small query set), [[exactProbePairs]] (pairs over a probe prefix),
  *     [[semanticContamination]], [[bitextMargin]], [[hardNegatives]].
  *   - Hyperplane LSH — no training; buckets are the sign pattern of
  *     hash-derived projections, so bucketing is deterministic and joins
  *     only within buckets: [[lshNeighbors]] (top-1),
  *     [[cosineNearDupPairs]] (pairs ≥ threshold), [[filteredTopK]]
  *     (label in the bucket key), [[bitextMarginIndexed]].
  *     [[autoLshParamsDetailed]] sizes planes and tables from n;
  *     [[nearDupPairsAuto]], [[lshTop1Auto]] and [[bitextMarginAuto]]
  *     dispatch between the LSH and the exact or cell regimes.
  *   - Trained cells — one driver-side core: `trainingSample` (bounded,
  *     hash-ordered), `lloyd` (cosine or L2), `nearestCells` (the one
  *     assignment rule). [[cosineCentroids]] fits; [[kmeansCells]]
  *     assigns; [[ivfTopK]] searches; [[semDedupPairs]] and
  *     [[semDedupPairsProbed]] are SemDeDup; [[cellTop1]] is cell-probed
  *     top-1; [[pqTrain]], [[pqCodebookDF]], [[pqEncode]] and [[pqTopK]]
  *     are product quantization.
  *   - Corpus-level: [[kCenterSelect]] (greedy k-center),
  *     [[embeddingDrift]], [[whiten]] (ZCA), [[randomProjection]] (JL
  *     sketches).
  *
  * All per-element math runs in compiled Catalyst expressions
  * (graft.functions.VectorExprs) — no UDFs, no interpreted
  * higher-order-function folds in the candidate-scoring hot path.
  */
object Ann {

  /** Cosine similarity of two Array[Float] columns, computed in double.
    * Requires VectorExprs.register on the session (the DataFrame entry
    * points below do it); accumulation order matches a sequential
    * left-to-right fold, so values are engine-reproducible. */
  def cosine(a: Column, b: Column): Column = {
    graft.functions.VectorExprs.register(SparkSession.active)
    call_function("graft_cosine", a, b)
  }

  /** Exact top-k neighbors for each query vector (queries must be small —
    * they are broadcast). Returns (query_id, rank, neighbor_id, cos_r)
    * — the 1e-8-rounded ranking cosine, the same score column the
    * sibling [[ivfTopK]]/[[bruteForceTopKL2]] faces return. */
  def bruteForceTopK(emb: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(
      col("vec_id").as("query_id"), col("embedding").as("q_emb")))
    val scored = emb.select(col("vec_id").as("neighbor_id"), col("embedding"))
      .crossJoin(q)
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("q_emb"), col("embedding")))
      // round before ranking so FP accumulation-order differences between
      // engines can't flip near-ties; neighbor_id breaks exact ties
      .withColumn("cos_r", round(col("cos"), 8))
    val w = Window.partitionBy("query_id").orderBy(col("cos_r").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("cos_r"))
  }

  /** IVF (inverted-file) top-k similarity search: the corpus is
    * partitioned into `nCells` KMeans cells (cosine distance), each query
    * probes its `nProbe` nearest centroids, and exact cosine ranks only
    * within probed cells — candidate cost ~ q·(nProbe/nCells)·n instead
    * of q·n. The scale path when embeddings cluster (LSH needs no
    * training but ignores data geometry; IVF buys sharper cells from a
    * one-off fit). `nProbe = nCells` degenerates to exact brute force —
    * the property the unit test pins. Centroids are a tiny literal array
    * (driver-side model), so probing is shuffle-free; the only shuffle is
    * the (cell) candidate join. Returns (query_id, rank, neighbor_id,
    * cos_r). */
  def ivfTopK(emb: DataFrame, queries: DataFrame, k: Int, nCells: Int = 16,
              nProbe: Int = 4): DataFrame = {
    graft.functions.VectorExprs.register(emb.sparkSession)
    val cents = cosineCentroids(emb, nCells)
    val corpus = emb.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("n_emb"), nearestCells(col("embedding"), cents, 1).as("cell"))
    // the query probe is the same rule as the corpus side: a near-tie
    // between two centroids flipped by FP accumulation order would
    // change which CELLS are scanned, not just a rank
    val probed = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
      nearestCells(col("embedding"), cents, nProbe).as("cell"))
    val wRank = Window.partitionBy("query_id").orderBy(col("cos_r").desc, col("neighbor_id"))
    probed.join(corpus, "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_r", round(cosine(col("q_emb"), col("n_emb")), 8))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("cos_r"))
  }

  /** EXACT near-neighbor pairs restricted to a probe prefix: (i, j,
    * cos_r) with i < j, cos_r ≥ threshold, and i < probeMax. The probe
    * side is broadcast, so cost is linear in the corpus (probeMax² is
    * bounded) — usable as an in-query recall guard at any scale. The
    * i < j normalization makes "i < probeMax" cover every pair with at
    * least one endpoint in the probe prefix of the id space below any
    * j ≥ probeMax, and all probe-probe pairs. */
  def exactProbePairs(emb: DataFrame, probeMax: Long, threshold: Double): DataFrame = {
    val probe = broadcast(emb.filter(col("vec_id") < probeMax)
      .select(col("vec_id").as("i"), col("embedding").as("e_i")))
    emb.select(col("vec_id").as("j"), col("embedding").as("e_j"))
      .join(probe, col("i") < col("j"))
      .withColumn("cos_r", round(cosine(col("e_i"), col("e_j")), 6))
      .filter(col("cos_r") >= threshold)
      .select("i", "j", "cos_r")
  }

  /** Johnson–Lindenstrauss random sign projection: d-dim embeddings →
    * k-dim sketches via y_i = Σ_j s(i,j)·x_j / √k with s(i,j) ∈ {±1}
    * (Achlioptas 2003: database-friendly random projections — sign
    * matrices preserve pairwise distances with the same JL guarantee as
    * Gaussians). Entirely scan-local codegen'd lambda expressions: no
    * shuffle, no model state, the projection matrix never materializes —
    * each sign derives from a tiny closed-form hash of (i,j), so ANY
    * engine (and the DuckDB oracle) reproduces the sketch bit-for-bit.
    * The hash is deliberately overflow-free small-modulus arithmetic —
    * ANSI engines error on 64-bit overflow, so splitmix-grade mixing is
    * not portable SQL — and it must be QUADRATIC in the index: a linear
    * congruence steps the modulus by a constant, which makes the sign
    * pattern near-alternating and systematically cancels vectors with
    * correlated adjacent coordinates (measured: ratio range [0.28, 2.47]
    * linear vs [0.42, 1.64] quadratic on the test embeddings). A
    * production deployment swaps in a seeded xxhash64 column without
    * changing the plan shape. Returns
    * (vec_id, y ARRAY<DOUBLE>, norm_ratio = ‖y‖/‖x‖); E[norm_ratio²]=1
    * with Var(ratio²)=2/k, which the caller can gate on. */
  def randomProjection(emb: DataFrame, dims: Int, k: Int): DataFrame = {
    val sign = (i: String, j: String) =>
      s"CASE WHEN ((((($i * $dims + $j) * 1103 + 12345) % 2039) * " +
        s"((($i * $dims + $j) * 1103 + 12345) % 2039) + " +
        s"(($i * $dims + $j) * 1103 + 12345) % 2039 + " +
        s"$i * 31 + $j * 7) % 4093) % 2 = 0 " +
        "THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END"
    val proj = "transform(sequence(0, " + (k - 1) + "), i -> " +
      s"aggregate(zip_with(embedding, sequence(0, ${dims - 1}), (x, j) -> " +
      s"${sign("i", "j")} * x), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) " +
      s"/ sqrt(CAST($k AS DOUBLE)))"
    val norm = (c: String) =>
      s"sqrt(aggregate($c, CAST(0.0 AS DOUBLE), (a, v) -> a + CAST(v AS DOUBLE) * v))"
    emb.select(col("vec_id"), expr(proj).as("y"),
        col("embedding"))
      .withColumn("norm_ratio",
        expr(norm("y")) / expr(norm("embedding")))
      .select("vec_id", "y", "norm_ratio")
  }

  /** Cross-set SEMANTIC decontamination — the embedding-space complement
    * of the n-gram containment (p20) and bloom (p28) passes, catching
    * paraphrased benchmark leakage those token-level passes miss. A train
    * vector is contaminated when its cosine to ANY eval vector clears the
    * threshold. Eval sets are benchmarks, not corpora — small by
    * construction — so the eval side broadcasts and the whole pass is ONE
    * scan of train: per-row work |eval|·dims, the per-train max a
    * map-side partial aggregate, no shuffle of embeddings at all (only
    * the skinny (train_id, max) rows). When the eval set outgrows a
    * broadcast, lshNeighbors bounds the per-row constant; this exact form
    * is the oracle-checkable contract. Arg-max ties break to the LOWEST
    * eval_id via ordered-struct max, so output is engine-independent. */
  def semanticContamination(train: DataFrame, eval: DataFrame,
      threshold: Double): DataFrame = {
    val ev = broadcast(eval.select(col("vec_id").as("eval_id"),
      col("embedding").as("e_emb")))
    train.select(col("vec_id").as("train_id"), col("embedding"))
      .crossJoin(ev)
      .withColumn("cos_r", round(cosine(col("embedding"), col("e_emb")), 6))
      .groupBy("train_id")
      .agg(max(struct(col("cos_r").as("c"), (-col("eval_id")).as("ni"))).as("m"))
      .select(col("train_id"),
        col("m.c").as("max_sim"),
        (-col("m.ni")).cast("bigint").as("eval_id"),
        (col("m.c") >= threshold).as("contaminated"))
  }

  /** Embedding-cosine near-duplicate pairs (i < j, cosine ≥ threshold)
    * via the same multi-table hyperplane-LSH bucketing as lshNeighbors —
    * candidates only ever form inside (table, bucket) groups, then exact
    * cosine verifies. Per-table bucket agreement is (1-θ/π)^planes and
    * multi-table recall 1-(1-p₁^planes)^tables; at a MODERATE dedup
    * threshold (cos 0.45 ⇒ θ≈63°) recall needs few planes and many
    * tables — measured on the driver corpus: planes=8/tables=8 missed
    * 11/14 true pairs where planes=4/tables=32 missed 0 (and ran 3×
    * faster: coarser buckets, but 4× the tables of cheap skinny rows).
    * Raise `planes` as n grows to keep E[bucket size] bounded; spend
    * `tables` to buy recall — `autoLshParamsDetailed` computes both from n. */
  def cosineNearDupPairs(emb: DataFrame, dims: Int, threshold: Double,
                         planes: Int = 4, tables: Int = 32, seed: Long = 5): DataFrame =
    verifiedPairs(emb, hyperplaneBucketed(emb, dims, planes, tables, seed), "bkt", threshold)

  /** The pair tail of the LSH and cell near-dup paths. Shape, MEASURED
    * at the ×10 probe: skinny (`key`, vec_id) postings form i < j pairs,
    * cross-key `distinct` collapses multiplicity BEFORE any embedding is
    * fetched, then the verify joins pull vectors via size-gated
    * broadcast — so at any scale where the vector table broadcasts, the
    * candidate stream never shuffles wide rows and each surviving pair
    * pays exactly ONE compiled cosine. The
    * carry-the-embedding-through-the-bucket-shuffle alternative
    * (verify-in-join, distinct after) measured WORSE both at sf0.1
    * (6.3 s vs 4.6) and at the ×10 probe (>300 s vs 218): per-table
    * duplicate candidates re-run the cosine (~2× evals) and the bucket
    * join sorts n·tables wide rows. It becomes the right form only when
    * the vector table outgrows broadcast (sizeGated then falls back to a
    * candidate-volume shuffle here) — at that corpus size the documented
    * low-threshold swap is cell-based SemDeDup (p29).
    * Returns (i, j, cos_r ≥ threshold). */
  private def verifiedPairs(emb: DataFrame, postings: DataFrame, key: String,
                            threshold: Double): DataFrame = {
    val a = postings.select(col(key), col("vec_id").as("i"))
    val b = postings.select(col(key), col("vec_id").as("j"))
    val candidates = a.join(b, Seq(key))
      .filter(col("i") < col("j"))
      .select("i", "j").distinct()
    val ve = graft.operators.Broadcasts.sizeGated(
      emb.select(col("vec_id"), col("embedding")))
    val va = ve.select(col("vec_id").as("i"), col("embedding").as("e_i"))
    val vb = ve.select(col("vec_id").as("j"), col("embedding").as("e_j"))
    candidates.join(va, "i").join(vb, "j")
      .withColumn("cos_r", round(cosine(col("e_i"), col("e_j")), 6))
      .filter(col("cos_r") >= threshold)
      .select("i", "j", "cos_r")
  }

  /** Self-scaling LSH parameterization — the "planes-growth rule" the
    * ×10 probe measured the need for (SCALE.md): with FIXED planes the
    * expected bucket occupancy is n/2^planes, so candidate volume grows
    * n² (p09 measured 88.6× wall at 10× data). `planes` pins
    * E[bucket] ≈ `bucketTarget`; `tables` then buys the recall back
    * analytically: a pair AT the threshold angle θ agrees on one plane
    * with prob r = 1 − θ/π, collides in a table with prob r^planes, and
    * tables = ln(1/(1−recall))/r^planes bounds the multi-table miss
    * (1−r^planes)^tables ≤ 1−recall. The model is conservative — real
    * qualifying pairs sit above the threshold, so measured recall runs
    * higher (99.96% at the sf1 probe vs 99.8% modeled). At the test SFs
    * (n ≤ 2000) the floors reproduce exactly the tuned planes=4/
    * tables=32, so small-scale results are byte-identical; growth
    * follows the sub-quadratic LSH exponent (candidate work
    * ~ n²/(2r)^planes shrinks as planes rise) instead of n².
    *
    * `tablesCap` IS the LSH→cell regime crossover. r12 measured BOTH
    * sides of that trade and the default is chosen accordingly:
    * lowering the cap to 96 (crossover n ≈ 8k, where the n^1.62 LSH
    * regime first exceeds a 20×-per-decade wall-clock law) made the
    * ×10 corpus run the linear cell kernel at 54.5 s — but the cell
    * path's pair recall at a MODERATE threshold collapses with the
    * probed-cell fraction nProbe/nCells: 96.5% at a 25% fraction
    * (sf0.1 forced-cap grading) vs 60.5% at the 2.5% fraction a ×10
    * corpus implies — the sf1 recall gate failed loudly. Holding the
    * fraction needs nProbe ∝ n (quadratic candidates), so there is no
    * linear high-recall structure at cos≈0.45 — consistent with the
    * published LSH exponent ρ ≈ 0.62 being a lower bound, not a
    * design flaw. The default therefore KEEPS the LSH regime through
    * the measured decades (cap 512 ⇒ crossover n ≈ 128k) and the
    * 0.45-threshold family is graded against its ANALYTIC budget
    * (~42×/decade, tools/scale_regression.py) instead of pretending a
    * cheaper structure exists; the cell swap remains the last resort
    * past the point LSH tables become absurd, with the recall trade
    * documented and floor-gated per regime.
    *
    * Returns (planes, tables, overCap). `overCap = true` when the
    * tables cap bent the parameterization away from its two invariants —
    * either planes were backed off the occupancy target (expected bucket
    * size now exceeds `bucketTarget`, so candidate volume is leaving its
    * linear-in-work bound) or tables were clamped under the analytic
    * recall requirement (modeled miss now exceeds `1 − targetRecall`).
    * Either way LSH pair enumeration has left its economical regime and
    * [[nearDupPairsAuto]] swaps to the cell-based SemDeDup kernel. */
  def autoLshParamsDetailed(n: Long, threshold: Double,
                            targetRecall: Double = 0.9965,
                            bucketTarget: Int = 125, planesFloor: Int = 4,
                            tablesFloor: Int = 32, tablesCap: Int = 512)
      : (Int, Int, Boolean) = {
    val r = 1.0 - math.acos(threshold) / math.Pi
    def tablesNeeded(p: Int): Double =
      math.log(1.0 / (1.0 - targetRecall)) / math.pow(r, p)
    val planesWanted = math.max(planesFloor, math.ceil(
      math.log(math.max(n, 1L).toDouble / bucketTarget) / math.log(2)).toInt)
    // tables grows (1/r)^planes ≈ n^0.62 for θ≈63° — when it would blow
    // the posting-volume cap, back planes off so the cap fits: recall
    // stays ≥ target BY CONSTRUCTION (fewer planes ⇒ higher per-table
    // collision), buckets grow instead. Past that point LSH pair
    // enumeration is leaving its economical regime and the landed
    // swap is cell-based SemDeDup (p29) — nearDupPairsAuto dispatches.
    var planes = planesWanted
    while (planes > planesFloor && tablesNeeded(planes) > tablesCap) planes -= 1
    val tables = math.min(tablesCap.toDouble,
      math.max(tablesFloor.toDouble, math.ceil(tablesNeeded(planes)))).toInt
    (planes, tables, planes < planesWanted || tablesNeeded(planes) > tablesCap)
  }

  /** Near-duplicate pair enumeration with the regime dispatch SCALE.md
    * promises in prose, now in code: inside the LSH budget this IS
    * [[cosineNearDupPairs]] at [[autoLshParamsDetailed]] (byte-identical results
    * at every test SF); once the parameterization goes over-cap (see
    * [[autoLshParamsDetailed]] — n ≳ 128k at cos 0.45 with the default
    * cap) it swaps to cell-based SemDeDup
    * [Abbas et al. 2023] with MULTI-PROBE assignment: each vector lands
    * in its `nProbe` nearest KMeans cells, so a pair straddling one cell
    * boundary still meets in the runner-up cell — recovering most of the
    * cross-cell recall the single-assignment kernel (p29) trades away,
    * for a ≤ nProbe² candidate-volume factor. Candidate volume stays
    * Σ c·(c−1)/2 with E[c] ≈ nProbe·cellTarget — linear in n for
    * nCells = n/cellTarget — versus the LSH path's intrinsic n^1.62.
    * The KMeans fit is the one-off O(n·nCells) investment the published
    * algorithm makes; the model stays driver-sized (nCells·dims).
    *
    * Recall on the swapped path is the published algorithm's trade,
    * and it is THRESHOLD- and SCALE-dependent: at SemDeDup's own
    * regime (≥ 0.9, near-identical vectors) duplicates co-cluster and
    * few probes suffice; at a moderate threshold recall tracks the
    * probed-cell FRACTION nProbe/nCells — measured 96.5% at a 25%
    * fraction and 60.5% at 2.5% (the r12 sf1 probe) — and holding the
    * fraction while nCells ∝ n needs nProbe ∝ n, i.e. quadratic
    * candidates. Raising `nProbe` buys recall at nProbe² cost; past
    * the cap at a low threshold the honest options are this trade or
    * the LSH path's analytic n^1.62 — which is why the default cap
    * keeps LSH through the measured decades.
    * Returns (i, j, cos_r), i < j, cos_r ≥ threshold — both regimes. */
  def nearDupPairsAuto(emb: DataFrame, dims: Int, threshold: Double,
                       seed: Long = 5, targetRecall: Double = 0.9965,
                       bucketTarget: Int = 125, tablesCap: Int = 512,
                       cellTarget: Int = 125, nProbe: Int = 4,
                       nOverride: Option[Long] = None): DataFrame = {
    val n = nOverride.getOrElse(emb.count())
    val (planes, tables, overCap) = autoLshParamsDetailed(n, threshold,
      targetRecall, bucketTarget, tablesCap = tablesCap)
    if (!overCap)
      cosineNearDupPairs(emb, dims, threshold, planes, tables, seed)
    else {
      val nCells = math.max(2, math.ceil(n.toDouble / cellTarget)).toInt
      // tiny over-cap corpora (forced caps in tests) can have fewer
      // cells than the default probe count — probing every cell is then
      // simply exact
      semDedupPairsProbed(emb, nCells, math.min(nProbe, nCells), threshold)
    }
  }

  /** Metadata-FILTERED ANN top-k — the RAG-retrieval shape: each query's
    * k nearest neighbors live AMONG the vectors satisfying the query's
    * predicate (here: equal `labelCol` — a tenant, language, or shard
    * key). The filter composes into the INDEX KEY — postings and probes
    * bucket on (label, table, bucket) — rather than post-filtering an
    * unfiltered top-k, which silently loses recall exactly when the
    * filter is selective (the true filtered neighbors never enter the
    * unfiltered shortlist). Candidates only form inside (label, table,
    * bucket) groups — lshNeighbors' bounded-bucket discipline, sharded
    * further by the filter column, so a selective filter makes buckets
    * SMALLER, never bigger; exact cosine then ranks the candidates, ids
    * only through the bucket shuffle, embeddings joined back by key.
    * Returns (query_id, label, rank, neighbor_id, cos_r). */
  def filteredTopK(emb: DataFrame, queries: DataFrame, labelCol: String,
                   dims: Int, k: Int, planes: Int = 4, tables: Int = 16,
                   seed: Long = 7): DataFrame = {
    graft.functions.VectorExprs.register(emb.sparkSession)
    def bucketed(df: DataFrame, idAs: String) =
      df.select(col("vec_id").as(idAs), col(labelCol).as("lbl"),
          posexplode(call_function("graft_hyperplane_buckets",
            col("embedding"), lit(dims), lit(planes), lit(tables), lit(seed)))
            .as(Seq("table", "bucket")))
        .select(struct(col("lbl"), col("table"), col("bucket")).as("bkt"),
          col(idAs))
    val cand = bucketed(queries, "query_id")
      .join(bucketed(emb, "neighbor_id"), Seq("bkt"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id").distinct()
    val qv = queries.select(col("vec_id").as("query_id"),
      col(labelCol).as("label"), col("embedding").as("q_emb"))
    val nv = emb.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("n_emb"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_r").desc, col("neighbor_id"))
    cand.join(qv, "query_id").join(nv, "neighbor_id")
      .withColumn("cos_r", round(cosine(col("q_emb"), col("n_emb")), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "label", "rank", "neighbor_id", "cos_r")
  }

  /** Hyperplane-LSH (bucket, vec_id, embedding) postings — all tables'
    * buckets from ONE compiled expression pass (HyperplaneBucketsExpr);
    * candidates only ever form inside a (table, bucket) group, so
    * Σ c·(c−1)/2 over bucket sizes is the family's candidate volume
    * (what ScalingSpec guards). */
  private[pipeline] def hyperplaneBucketed(emb: DataFrame, dims: Int, planes: Int,
                                           tables: Int, seed: Long): DataFrame = {
    graft.functions.VectorExprs.register(emb.sparkSession)
    emb.select(col("vec_id"), col("embedding"),
      posexplode(call_function("graft_hyperplane_buckets",
        col("embedding"), lit(dims), lit(planes), lit(tables), lit(seed)))
        .as(Seq("table", "bucket")))
      .select(struct(col("table"), col("bucket")).as("bkt"),
        col("vec_id"), col("embedding"))
  }

  // ===== the trained-cell core: one sample, one Lloyd loop, one rule ===
  // Every model (IVF/SemDeDup cells, PQ codebooks) is fit on the driver
  // from a BOUNDED DETERMINISTIC SAMPLE, which is how IVF coarse
  // quantizers and PQ codebooks are trained in practice [Jégou et al.
  // 2011]: the model is k·d numbers and converges from a few thousand
  // points; only assignment touches the full corpus, scan-locally. A
  // distributed fit (MLlib KMeans) cost 24 sub-0.1 s driver-coordinated
  // jobs at sf0.1 and its k-means|| init changes with RDD partitioning;
  // this fit is bit-reproducible on any cluster layout.

  /** Bytes of doubles one [[trainingSample]] may collect to the driver. */
  private val SampleBytes = 64 << 20

  /** Rows [[trainingSample]] collects for a `k`-centroid fit at width
    * `d`: 48 a centroid (floor 4096), capped at [[SampleBytes]] — 131 072
    * rows at d = 64, 8192 at d = 1024. */
  private[pipeline] def sampleCap(k: Int, d: Int): Int =
    math.min(math.max(4096, 48 * k), SampleBytes / (8 * d))

  /** The training sample of a `k`-centroid fit, as double rows in vec_id
    * order. Two jobs: one aggregate reads the embedding width (min and
    * max over the corpus; embeddings that differ in width fail here,
    * naming both widths), then one TakeOrdered chooses the rows by
    * (xxhash64(vec_id), vec_id) — deterministic, and independent of id
    * order: an id prefix trains only on whatever topics the first ids
    * hold. Below [[sampleCap]] the sample is the whole corpus. */
  private[pipeline] def trainingSample(emb: DataFrame, k: Int): Array[Array[Double]] = {
    require(k >= 1, s"k >= 1, got $k")
    val w = emb.agg(min(size(col("embedding"))), max(size(col("embedding")))).head()
    require(!w.isNullAt(0), "trainingSample: empty corpus")
    val (lo, hi) = (w.getInt(0), w.getInt(1))
    require(lo == hi, s"trainingSample: embeddings differ in width ($lo vs $hi)")
    require(hi > 0, "trainingSample: zero-width embeddings")
    emb.select(col("vec_id").cast("long"), col("embedding").cast("array<double>"))
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(sampleCap(k, hi)).collect()
      .sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
  }

  /** Distance and update of a [[lloyd]] fit. */
  private sealed trait Metric
  /** Spherical k-means: unit init, −dot as the distance (centroids are
    * unit, so argmin −dot is argmax cosine), `unit(sum)` as the update. */
  private case object Cosine extends Metric
  /** Euclidean k-means: copy init, squared L2, `sum / cnt` as the update. */
  private case object L2 extends Metric

  /** Lloyd's k-means on driver-local points, 10 iterations: init = k
    * evenly spaced points in input order, each point to the centroid of
    * least distance (strict `<`: the lowest index wins ties), empty
    * cells keep their centroid. Deterministic. */
  private def lloyd(points: Array[Array[Double]], k: Int,
                    metric: Metric): Array[Array[Double]] = {
    val n = points.length
    val d = points(0).length
    val spherical = metric == Cosine
    def unit(v: Array[Double]): Array[Double] = {
      var s = 0.0; var j = 0
      while (j < d) { s += v(j) * v(j); j += 1 }
      val m = math.sqrt(s)
      if (m == 0.0) v.clone() else Array.tabulate(d)(j => v(j) / m)
    }
    def dist(p: Array[Double], c: Array[Double]): Double = {
      var s = 0.0; var j = 0
      if (spherical) { while (j < d) { s += p(j) * c(j); j += 1 }; -s }
      else { while (j < d) { val x = p(j) - c(j); s += x * x; j += 1 }; s }
    }
    var cents = Array.tabulate(k) { c =>
      val p = points(((c.toLong * n) / k).toInt)
      if (spherical) unit(p) else p.clone()
    }
    for (_ <- 1 to 10) {
      val sums = Array.fill(k)(new Array[Double](d))
      val cnts = new Array[Long](k)
      for (p <- points) {
        var best = 0
        var bestD = Double.PositiveInfinity
        var c = 0
        while (c < k) {
          val x = dist(p, cents(c))
          if (x < bestD) { bestD = x; best = c }
          c += 1
        }
        var j = 0
        while (j < d) { sums(best)(j) += p(j); j += 1 }
        cnts(best) += 1
      }
      cents = Array.tabulate(k) { c =>
        if (cnts(c) == 0) cents(c)
        else if (spherical) unit(sums(c))
        else Array.tabulate(d)(j => sums(c)(j) / cnts(c))
      }
    }
    cents
  }

  /** Fit `nCells` spherical k-means centroids ([[lloyd]] with the cosine
    * metric) on [[trainingSample]]. Returns nCells × d FLOAT centroids —
    * floats, so the assignment expressions' literals are identical
    * everywhere. */
  def cosineCentroids(emb: DataFrame, nCells: Int): Array[Array[Float]] =
    lloyd(trainingSample(emb, nCells), nCells, Cosine).map(_.map(_.toFloat))

  /** Centroid table as a literal array column of (cell, cent) structs —
    * the tiny driver-side model every assignment expression embeds. */
  private def centArrOf(cents: Array[Array[Float]]): Column =
    array(cents.zipWithIndex.map { case (c, i) =>
      struct(lit(i.toLong).as("cell"), array(c.map(lit): _*).as("cent"))
    }: _*)

  /** The one nearest-cell rule, a generator: one `cell` row for each of
    * the embedding's `nProbe` nearest centroids, nearest first. Every
    * cell is scored INSIDE one projection (score, array_sort, slice), so
    * assignment is scan-local and never materializes n×nCells rows.
    * Scores round to 1e-8 BEFORE ordering (house rule — an fp near-tie
    * must not flip which cells a vector lands in or a query scans);
    * exact ties go to the lowest cell id: the struct order
    * (−score asc, cell asc) is (score desc, cell asc). The array is never
    * empty; the outer explode keeps `cell` nullable, the type
    * [[kmeansCells]] has always landed (p29's sem_cells). */
  private def nearestCells(embCol: Column, cents: Array[Array[Float]],
                           nProbe: Int): Column = {
    val scored = transform(centArrOf(cents), c => struct(
      (-round(cosine(embCol, c.getField("cent")), 8)).as("neg_cc"),
      c.getField("cell").as("cell")))
    explode_outer(transform(slice(array_sort(scored), 1, nProbe), _.getField("cell")))
  }

  /** KMeans cell assignment (cosine distance), the clustering step of
    * SemDeDup and the cell-probed paths: a one-off sample fit
    * ([[cosineCentroids]]), then the scan-local [[nearestCells]] rule.
    * With `nProbe` > 1 each vector lands in its `nProbe` nearest cells —
    * IVF's probe discipline applied to the CORPUS side, the recall repair
    * for cell-based dedup: a near-dup pair split by one cell boundary
    * still meets in a shared runner-up cell. Returns (vec_id, cell),
    * nProbe rows per vector. */
  def kmeansCells(emb: DataFrame, nCells: Int, nProbe: Int = 1): DataFrame = {
    require(nProbe >= 1 && nProbe <= nCells,
      s"nProbe must be in [1, nCells], got $nProbe of $nCells")
    graft.functions.VectorExprs.register(emb.sparkSession)
    val cents = cosineCentroids(emb, nCells)
    emb.select(col("vec_id"), nearestCells(col("embedding"), cents, nProbe).as("cell"))
  }

  /** SemDeDup pairs over multi-probe cells — the over-cap branch of
    * [[nearDupPairsAuto]], on the LSH path's measured pair tail
    * (`verifiedPairs`). Returns (i, j, cos_r), i < j. */
  def semDedupPairsProbed(emb: DataFrame, nCells: Int, nProbe: Int,
                          threshold: Double): DataFrame =
    verifiedPairs(emb, kmeansCells(emb, nCells, nProbe), "cell", threshold)

  /** SemDeDup [Abbas et al. 2023]: semantic near-duplicate pairs found by
    * clustering the embedding space and comparing cosines only WITHIN
    * each cluster — the clustering is what makes semantic dedup tractable
    * at corpus scale (all-pairs is O(n²); within-cell pairs are
    * Σ c·(c−1)/2 with E[c] = n/nCells, so nCells is the knob that keeps
    * candidate volume linear — grow it with n). Trades recall of
    * CROSS-cell pairs for that bound, which is the published algorithm's
    * deal, not an approximation of it: duplicates cluster together by
    * construction. `cells` is the (vec_id, cell) assignment
    * ([[kmeansCells]]). The self-join is keyed by cell (one shuffle);
    * exact cosine verifies every candidate. Returns (cell, i, j, cos_r). */
  def semDedupPairs(emb: DataFrame, cells: DataFrame,
                    threshold: Double): DataFrame = {
    val byCell = emb.join(cells, "vec_id")
      .select(col("cell"), col("vec_id"), col("embedding"))
    val a = byCell.select(col("cell"), col("vec_id").as("i"), col("embedding").as("e_i"))
    val b = byCell.select(col("cell"), col("vec_id").as("j"), col("embedding").as("e_j"))
    a.join(b, Seq("cell"))
      .filter(col("i") < col("j"))
      .withColumn("cos_r", round(cosine(col("e_i"), col("e_j")), 6))
      .filter(col("cos_r") >= threshold)
      .select("cell", "i", "j", "cos_r")
  }

  /** Bitext mining, CCMatrix/LASER-style margin scoring: for each vector
    * on side A, its best side-B neighbor scored by
    * `cos(a,b) / (0.5·mean(top-k cos(a,·)) + 0.5·mean(top-k cos(·,b)))`
    * — the margin normalizes away "hub" vectors that are close to
    * everything, which raw cosine thresholds cannot. Returns
    * (a_id, b_id, cos_r, margin, accepted).
    *
    * This entry point is the exact form: side A broadcasts against side
    * B (bounded |A|·|B| scoring, fine when one side is a query batch).
    * At corpus scale both top-k lists come from the LSH/IVF index
    * instead (filteredTopK's (label, table, bucket) postings) — the
    * margin arithmetic is unchanged, only candidate generation swaps.
    * Cosines are rounded to 1e-8 before ranking and the margin to 1e-6
    * before the accept compare, so merge-order fp noise (≥9 orders
    * below either grain) cannot flip a rank or the decision. */
  def bitextMargin(a: DataFrame, b: DataFrame, k: Int = 4,
                   acceptMargin: Double = 1.2): DataFrame = {
    val aa = broadcast(a.select(col("vec_id").as("a_id"), col("embedding").as("a_emb")))
    val bb = b.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"))
    val scored = bb.crossJoin(aa)
      .withColumn("cos_r", round(cosine(col("a_emb"), col("b_emb")), 8))
      .select("a_id", "b_id", "cos_r")
    marginFromScores(scored, k, acceptMargin)
  }

  /** The margin arithmetic shared by the exact and indexed bitext paths:
    * best-B-per-A normalized by both sides' top-k neighborhood means,
    * computed over whatever (a_id, b_id, cos_r) candidate set the caller
    * generated. */
  private def marginFromScores(scored: DataFrame, k: Int,
                               acceptMargin: Double): DataFrame = {
    val wA = Window.partitionBy("a_id").orderBy(col("cos_r").desc, col("b_id"))
    val wB = Window.partitionBy("b_id").orderBy(col("cos_r").desc, col("a_id"))
    val fwd = scored.withColumn("rk", row_number().over(wA))
    val aStats = fwd.filter(col("rk") <= k)
      .groupBy("a_id").agg(avg(col("cos_r")).as("ma"))
    val bStats = scored.withColumn("rk", row_number().over(wB))
      .filter(col("rk") <= k)
      .groupBy("b_id").agg(avg(col("cos_r")).as("mb"))
    fwd.filter(col("rk") === 1).drop("rk")
      .join(aStats, "a_id")
      .join(bStats, "b_id")
      .withColumn("margin",
        round(col("cos_r") / (lit(0.5) * col("ma") + lit(0.5) * col("mb")), 6))
      .withColumn("accepted", col("margin") > acceptMargin)
      .select("a_id", "b_id", "cos_r", "margin", "accepted")
  }

  /** INDEXED bitext margin mining — the corpus-scale path
    * [[bitextMargin]]'s doc promises: candidates come from CROSS-SIDE
    * hyperplane-LSH postings (both sides bucketed under the same seeded
    * (table, bucket) keys; pairs only form inside shared buckets), and
    * both top-k neighborhood means are computed over that candidate set,
    * so no |A|·|B| stage exists anywhere — candidate volume is
    * Σ |bktA|·|bktB| over shared buckets, bounded by the lshNeighbors
    * bucket discipline (raise `planes` with corpus size). Margin
    * arithmetic is IDENTICAL to the exact form (shared helper).
    *
    * Approximate where the exact form is not: a true neighbor that
    * collides in NO table is invisible, and a sparser candidate set
    * shifts the top-k means slightly — which is why the p89 driver entry
    * carries an in-query recall floor against the exact form rather than
    * a comment. */
  def bitextMarginIndexed(a: DataFrame, b: DataFrame, dims: Int,
                          k: Int = 4, acceptMargin: Double = 1.2,
                          planes: Int = 4, tables: Int = 16,
                          seed: Long = 7): DataFrame = {
    val pa = hyperplaneBucketed(a, dims, planes, tables, seed)
      .select(col("bkt"), col("vec_id").as("a_id"))
    val pb = hyperplaneBucketed(b, dims, planes, tables, seed)
      .select(col("bkt"), col("vec_id").as("b_id"))
    val cand = pa.join(pb, "bkt").select("a_id", "b_id").distinct()
    val scored = cand
      .join(a.select(col("vec_id").as("a_id"), col("embedding").as("a_emb")), "a_id")
      .join(b.select(col("vec_id").as("b_id"), col("embedding").as("b_emb")), "b_id")
      .withColumn("cos_r", round(cosine(col("a_emb"), col("b_emb")), 8))
      .select("a_id", "b_id", "cos_r")
    marginFromScores(scored, k, acceptMargin)
  }

  /** Bitext margin mining with the regime dispatch [[nearDupPairsAuto]]
    * established for near-dup pairs (VERDICT r12 item 4 — nothing
    * auto-routed past [[bitextMargin]]'s |A|·|B| contract before this):
    * while the exact score matrix fits the work budget
    * (|A|·|B| ≤ `maxExactProducts`, default 1e9 ≈ the measured-fine sf1
    * point with ~10× headroom priced at ~1 fused multiply-add per cell)
    * this IS [[bitextMargin]] — byte-identical accepts — and past it the
    * candidate generator swaps to [[bitextMarginIndexed]]'s cross-side
    * LSH postings with `planes` auto-raised to hold E[bucket] ≈
    * `bucketTarget` on the larger side (the same bucket discipline
    * lshNeighbors applies), so candidate volume stays
    * Σ |bktA|·|bktB| ≈ linear-per-table instead of quadratic. The margin
    * arithmetic is identical in both regimes (shared helper); the
    * indexed regime's approximation contract is documented at
    * [[bitextMarginIndexed]] and gated in the p89 driver entry.
    * Pass `countsOverride` when the caller already knows |A|/|B| (or to
    * force a regime in tests) — otherwise each side pays one count(). */
  def bitextMarginAuto(a: DataFrame, b: DataFrame, dims: Int,
                       k: Int = 4, acceptMargin: Double = 1.2,
                       maxExactProducts: Long = 1_000_000_000L,
                       bucketTarget: Int = 125, tables: Int = 16,
                       seed: Long = 7,
                       countsOverride: Option[(Long, Long)] = None): DataFrame = {
    val (nA, nB) = countsOverride.getOrElse((a.count(), b.count()))
    if (nA * nB <= maxExactProducts) bitextMargin(a, b, k, acceptMargin)
    else {
      val planes = math.max(4, math.ceil(math.log(
        math.max(nA, nB).toDouble / bucketTarget) / math.log(2)).toInt)
      bitextMarginIndexed(a, b, dims, k, acceptMargin, planes, tables, seed)
    }
  }

  /** Hard-negative TRIPLET mining for contrastive/embedding training
    * (the SimCLR/SBERT data-prep step): for each anchor, the positive is
    * its highest-cosine SAME-label vector and the hard negative its
    * highest-cosine DIFFERENT-label vector — the negatives that actually
    * move a contrastive loss, where random negatives are trivially easy.
    * `violation` marks triplets the margin has not yet separated
    * (cos_neg > cos_pos − margin): the curriculum signal.
    *
    * This is the exact bounded-anchor form: the anchor batch broadcasts
    * against the corpus (|anchors|·n scoring — anchors are a training
    * batch, thousands at most), one scan, two windowed argmaxes over the
    * scored stream. At corpus-sweep scale the candidate generator swaps
    * to the (label, table, bucket) LSH postings exactly as
    * [[bitextMarginIndexed]] does for [[bitextMargin]] — same seam, same
    * arithmetic. Cosines round to 1e-8 before ranking, ties break on the
    * candidate id, so any engine mines identical triplets.
    * Returns (anchor_id, pos_id, cos_pos, neg_id, cos_neg, violation). */
  def hardNegatives(emb: DataFrame, anchors: DataFrame, labelCol: String,
                    margin: Double = 0.1): DataFrame = {
    val a = broadcast(anchors.select(col("vec_id").as("anchor_id"),
      col(labelCol).as("a_lbl"), col("embedding").as("a_emb")))
    val scored = emb.select(col("vec_id").as("cand_id"),
        col(labelCol).as("c_lbl"), col("embedding").as("c_emb"))
      .crossJoin(a)
      .filter(col("cand_id") =!= col("anchor_id"))
      .withColumn("cos_r", round(cosine(col("a_emb"), col("c_emb")), 8))
      .select("anchor_id", "a_lbl", "cand_id", "c_lbl", "cos_r")
    val w = Window.partitionBy("anchor_id")
      .orderBy(col("cos_r").desc, col("cand_id"))
    def best(side: DataFrame, idAs: String, cosAs: String) =
      side.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .select(col("anchor_id"), col("cand_id").as(idAs),
          col("cos_r").as(cosAs))
    val pos = best(scored.filter(col("c_lbl") === col("a_lbl")),
      "pos_id", "cos_pos")
    val neg = best(scored.filter(col("c_lbl") =!= col("a_lbl")),
      "neg_id", "cos_neg")
    pos.join(neg, "anchor_id")
      .withColumn("violation", col("cos_neg") > col("cos_pos") - margin)
      .select("anchor_id", "pos_id", "cos_pos", "neg_id", "cos_neg",
        "violation")
  }

  /** Approximate nearest neighbor (top-1) for every vector via MULTI-TABLE
    * hyperplane LSH: `tables` independent hash tables of `planes` bits
    * each; candidates are vectors sharing a bucket in ANY table (recall
    * 1-(1-p₁^planes)^tables — multi-table is what makes hyperplane LSH
    * usable on near-isotropic embeddings). Each table's join is keyed by
    * (table, bucket) — candidate cost ~ n·tables·E[bucket size], never
    * O(n²); scale n up ⇒ raise `planes` to keep buckets bounded.
    * All tables' buckets come from ONE compiled expression pass
    * (HyperplaneBucketsExpr). Returns (vec_id, neighbor_id, cos_r). */
  def lshNeighbors(emb: DataFrame, dims: Int, planes: Int = 6, tables: Int = 8,
                   seed: Long = 5): DataFrame =
    top1(emb, hyperplaneBucketed(emb, dims, planes, tables, seed), "bkt")

  /** The top-1 tail of the LSH and cell paths: vectors sharing a `key`
    * in `postings` (`key`, vec_id) are candidates, scored against the
    * raw vectors (joined back by id so the bucket/cell shuffle never
    * carries embeddings); each vector keeps its best. */
  private def top1(emb: DataFrame, postings: DataFrame, key: String): DataFrame = {
    val a = postings.select(col(key), col("vec_id"))
    val b = postings.select(col(key), col("vec_id").as("neighbor_id"))
    val candidates = a.join(b, Seq(key))
      .filter(col("vec_id") =!= col("neighbor_id"))
      .select("vec_id", "neighbor_id").distinct()
    val va = emb.select(col("vec_id"), col("embedding"))
    val vb = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb"))
    val paired = candidates.join(va, "vec_id").join(vb, "neighbor_id")
      .withColumn("cos_r", round(cosine(col("embedding"), col("n_emb")), 6))
    val w1 = Window.partitionBy("vec_id").orderBy(col("cos_r").desc, col("neighbor_id"))
    paired.withColumn("rn", row_number().over(w1))
      .filter(col("rn") === 1)
      .select("vec_id", "neighbor_id", "cos_r")
  }

  /** Cell-probed top-1: candidates are vectors sharing any of each
    * other's `nProbe` nearest KMeans cells — the SemDeDup-cell kernel
    * applied to all-corpus nearest-neighbor instead of pair enumeration.
    * Candidate volume is E[c]·nProbe per vector with E[c] ≈
    * nProbe·cellTarget — LINEAR in n for nCells = n/cellTarget — which
    * is why [[lshTop1Auto]] swaps here once the LSH parameterization
    * leaves its budget. Returns (vec_id, neighbor_id, cos_r). */
  def cellTop1(emb: DataFrame, nCells: Int, nProbe: Int): DataFrame =
    top1(emb, kmeansCells(emb, nCells, nProbe), "cell")

  /** Self-scaling all-corpus top-1 — [[lshNeighbors]] with the same
    * regime discipline [[nearDupPairsAuto]] applies to pair enumeration
    * (the r11 lesson generalized to the whole ANN family): fixed planes
    * are an n² time bomb, and even auto-grown planes+tables make
    * candidate work ~ n^1.42 at the top-1 design point, so past the
    * tables cap the dispatcher swaps to the linear [[cellTop1]] kernel.
    *
    * Parameterization reuses [[autoLshParamsDetailed]] with the top-1
    * design point: `designCos` = 0.7 (the cosine a corpus top-1
    * neighbor typically clears — pair-ENUMERATION thresholds like 0.45
    * need many more tables; top-1 only needs the single best neighbor
    * to collide once) and a 0.75 modeled recall target, which at the
    * floors reproduces EXACTLY the tuned planes=6/tables=8 at every
    * test SF (n ≤ 2000), so small-scale results are byte-identical.
    * Measured top-1 recall runs far above the modeled floor for the
    * same reason as the pair path: real nearest neighbors sit above
    * the design cosine. With the default cap the swap engages at
    * n > bucketTarget·2^13 ≈ 256k. */
  def lshTop1Auto(emb: DataFrame, dims: Int, seed: Long = 5,
                  designCos: Double = 0.7, targetRecall: Double = 0.75,
                  bucketTarget: Int = 32, tablesCap: Int = 64,
                  cellTarget: Int = 125, nProbe: Int = 4,
                  nOverride: Option[Long] = None): DataFrame = {
    val n = nOverride.getOrElse(emb.count())
    val (planes, tables, overCap) = autoLshParamsDetailed(n, designCos,
      targetRecall, bucketTarget, planesFloor = 6, tablesFloor = 8,
      tablesCap = tablesCap)
    if (!overCap) lshNeighbors(emb, dims, planes, tables, seed)
    else {
      val nCells = math.max(2, math.ceil(n.toDouble / cellTarget)).toInt
      cellTop1(emb, nCells, math.min(nProbe, nCells))
    }
  }

  // ---- Product quantization [Jégou et al. 2011] ------------------------

  /** The embedding's s-th subvector as array<double> (1-based slice). */
  private def pqSub(e: Column, s: Int, sub: Int): Column =
    slice(e, lit(s * sub + 1), lit(sub)).cast("array<double>")

  /** Squared L2 between two array columns, in double — a sequential
    * left-to-right fold, so any engine restating the same arithmetic in
    * double lands on the same value (mod ~1e-15 noise, which the 1e-6
    * rounds below absorb). */
  def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a.cast("array<double>"), b.cast("array<double>"),
      (x, y) => (x - y) * (x - y)), lit(0.0), (acc, d) => acc + d)

  /** Exact L2 top-k (broadcast queries) — the truth PQ's recall guard
    * measures against; same shape as [[bruteForceTopK]] but ranking by
    * ascending squared L2. Returns (query_id, rank, neighbor_id, dist). */
  def bruteForceTopKL2(emb: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(
      col("vec_id").as("query_id"), col("embedding").as("q_emb")))
    val w = Window.partitionBy("query_id").orderBy(col("dist"), col("neighbor_id"))
    emb.select(col("vec_id").as("neighbor_id"), col("embedding"))
      .crossJoin(q)
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("dist", round(l2sq(col("q_emb"), col("embedding")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("dist"))
  }

  /** Train PQ codebooks: split `dims` into m contiguous subspaces and fit
    * an independent euclidean k-means of `k` centroids per subspace
    * ([[lloyd]] with the L2 metric) — DRIVER-SIDE, on the same bounded
    * hash-ordered [[trainingSample]] the cell fit uses. Training on a
    * sample is how PQ codebooks are built in practice at any corpus size
    * (the codebook is m·k·(dims/m) doubles — kilobytes — and converges
    * from a few thousand points); only encode/search touch the full
    * corpus. The model is bit-reproducible run to run. `dims` must equal
    * the embeddings' width. Returns cbs(s)(code) = centroid. */
  def pqTrain(emb: DataFrame, dims: Int, m: Int, k: Int): Array[Array[Array[Double]]] = {
    require(dims % m == 0, "dims must be divisible by m")
    val sample = trainingSample(emb, k)
    require(sample(0).length == dims,
      s"pqTrain: dims $dims but the embeddings are ${sample(0).length} wide")
    val sub = dims / m
    Array.tabulate(m) { s =>
      lloyd(sample.map(v => java.util.Arrays.copyOfRange(v, s * sub, (s + 1) * sub)), k, L2)
    }
  }

  /** The codebooks as a landable DataFrame (subspace, code, cent) — the
    * oracle re-derives codes and ADC distances from exactly these. */
  def pqCodebookDF(spark: SparkSession, cbs: Array[Array[Array[Double]]]): DataFrame = {
    import spark.implicits._
    cbs.zipWithIndex.flatMap { case (cb, s) =>
      cb.zipWithIndex.map { case (cent, code) => (s.toLong, code.toLong, cent.toSeq) }
    }.toSeq.toDF("subspace", "code", "cent")
  }

  /** Encode every vector as m one-byte codes: per subspace, the argmin-
    * distance centroid (distance ROUNDED to 1e-6 before the argmin, code
    * as tie-break, so assignment is engine-reproducible). Scan-local —
    * the codebooks ride into the expression as literals; no shuffle, no
    * model object at eval time. Returns (vec_id, codes: array<long>). */
  def pqEncode(emb: DataFrame, cbs: Array[Array[Array[Double]]]): DataFrame = {
    val m = cbs.length
    val sub = cbs(0)(0).length
    val codeCols = (0 until m).map { s =>
      val cands = array(cbs(s).zipWithIndex.map { case (cent, code) =>
        struct(round(l2sq(pqSub(col("embedding"), s, sub), array(cent.map(lit): _*)), 6).as("d"),
          lit(code.toLong).as("code"))
      }: _*)
      array_min(cands).getField("code").as(s"c$s")
    }
    emb.select((col("vec_id") +: codeCols): _*)
      .select(col("vec_id"), array((0 until m).map(s => col(s"c$s")): _*).as("codes"))
  }

  /** PQ top-k search: ADC shortlist + exact re-rank — the production PQ
    * shape. Stage 1 (asymmetric distance computation): each query
    * precomputes ONE k-entry distance table per subspace (m·k doubles,
    * built once, broadcast with the query) and every corpus vector then
    * costs m array LOOKUPS — not a d-dim distance — Σ_s table_s[code_s].
    * That lookup asymmetry is the entire point of PQ: the corpus is
    * scanned as m-byte codes (8 bytes a vector here instead of 256), so
    * a 100 TB embedding store shrinks ~32× and the scan is memory-
    * bandwidth-bound on codes. Stage 2: only the ADC top-`shortlist`
    * candidates per query are joined back to their RAW vectors (a skinny
    * id join fetching q·shortlist rows, not a corpus scan) and re-ranked
    * by exact L2 — quantization error affects which candidates make the
    * shortlist, never the final ordering. `shortlist` is the recall
    * knob, and it must SCALE with the corpus (a fixed fraction, e.g.
    * 5%): held constant it silently decays recall as the corpus adds
    * ADC-confusable distractors — measured 77% top-3 recall at n=2k vs
    * 50% at n=20k with shortlist=100 (r12 sf1 probe). The re-rank stays
    * a skinny id join at any shortlist ≪ n; the ADC code scan dominates
    * cost either way. Both rank keys are rounded to 1e-6 with
    * neighbor-id tie-break, so shortlist membership and final ranks are
    * engine-reproducible. Returns
    * (query_id, rank, neighbor_id, dist = exact L2²). */
  def pqTopK(codes: DataFrame, emb: DataFrame, queries: DataFrame, k: Int,
             cbs: Array[Array[Array[Double]]], shortlist: Int = 50): DataFrame = {
    val m = cbs.length
    val sub = cbs(0)(0).length
    val tableCols = (0 until m).map { s =>
      array(cbs(s).map(cent =>
        l2sq(pqSub(col("embedding"), s, sub), array(cent.map(lit): _*))): _*).as(s"dt$s")
    }
    val qt = broadcast(queries
      .select((col("vec_id").as("query_id") +: tableCols): _*))
    val score = (0 until m).map(s =>
      element_at(col(s"dt$s"), (col("codes")(s) + 1).cast("int"))).reduce(_ + _)
    val wL = Window.partitionBy("query_id").orderBy(col("adc"), col("neighbor_id"))
    val short = codes.select(col("vec_id").as("neighbor_id"), col("codes"))
      .crossJoin(qt)
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("adc", round(score, 6))
      .withColumn("rk", row_number().over(wL))
      .filter(col("rk") <= shortlist)
      .select("query_id", "neighbor_id")
    val nv = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb"))
    val qv = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb")))
    val w = Window.partitionBy("query_id").orderBy(col("dist"), col("neighbor_id"))
    short.join(nv, "neighbor_id").join(qv, "query_id")
      .withColumn("dist", round(l2sq(col("q_emb"), col("n_emb")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("dist"))
  }

  /** Greedy k-center (farthest-point) coreset selection — the classic
    * 2-approximation (Gonzalez 1985) for picking k maximally-diverse
    * exemplars, the data-selection pass behind diverse fine-tuning
    * subsets and dedup-aware eval panels.
    *
    * Each round is ONE distributed scan: min cosine-distance to the
    * selected set (≤ k literal vectors compiled into the projection —
    * the IVF centroid discipline, shuffle-free) followed by a
    * TakeOrdered(1) argmax. k rounds = k scans; selection state on the
    * driver is k vectors — bounded metadata. Distances are rounded to
    * 1e-8 BEFORE the argmax and ties break on vec_id, so any engine
    * replays the identical selection sequence (the p06 rule applied to
    * selection instead of ranking).
    *
    * Seed = the row with MIN(vec_id) (deterministic). Returns one row
    * per pick: (rk 1..k, vec_id, radius = the pick's min-distance to
    * the previously selected set; NULL for the seed). radius is
    * non-increasing — the coverage guarantee the spec pins. */
  def kCenterSelect(emb: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k >= 1, got $k")
    val spark = emb.sparkSession
    graft.functions.VectorExprs.register(spark)
    val seedRows = emb.orderBy("vec_id").select("vec_id", "embedding")
      .limit(1).collect()
    require(seedRows.nonEmpty, "kCenterSelect over an EMPTY embedding frame")
    var selected = Vector[(Long, Seq[Float], Option[Double])](
      (seedRows(0).getLong(0), seedRows(0).getSeq[Float](1), None))
    while (selected.size < k) {
      val minDist = selected.map { case (_, v, _) =>
        round(lit(1.0) - cosine(col("embedding"),
          array(v.map(x => lit(x)): _*)), 8)
      }.reduce(least(_, _))
      val ids = selected.map(_._1)
      val nextRows = emb.filter(!col("vec_id").isin(ids: _*))
        .select(col("vec_id"), col("embedding"), minDist.as("d"))
        .orderBy(col("d").desc, col("vec_id"))
        .limit(1).collect()
      // loud instead of a bare head-on-empty crash mid-loop
      require(nextRows.nonEmpty,
        s"kCenterSelect: k=$k exceeds the corpus size (${selected.size} " +
          "distinct vectors available)")
      val next = nextRows(0)
      selected :+= ((next.getLong(0), next.getSeq[Float](1),
        Some(next.getDouble(2))))
    }
    import spark.implicits._
    selected.zipWithIndex.map { case ((id, _, r), i) =>
      ((i + 1).toLong, id, r.map(x =>
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    }.toDF("rk", "vec_id", "radius")
  }

  /** Per-group embedding-DISTRIBUTION drift between two corpus snapshots
    * — the vector-space complement of Series.ksDrift's scalar test: an
    * embedding model swap, a crawler demographic shift, or a poisoned
    * source moves a group's centroid / norm profile long before any
    * scalar column drifts.
    *
    * Per (group, snapshot): centroid (per-dim mean) and mean L2 norm in
    * ONE scan — the projection emits each vector's norm (scan-local
    * `aggregate` lambda) alongside its posexploded dims, so level 1 is a
    * single map-side-combinable aggregate keyed (group, snap, dim); the
    * norm sum rides the dim-0 rows. Level 2 compares snapshots entirely
    * relationally — centroid cosine, mean-shift L2, and norm ratio fold
    * out of Σ ma·mb / Σ ma² / Σ mb² over the (group, dim) join of the
    * two centroid tables — so no dense vector is ever collected or
    * carried whole through a shuffle, and state is bounded by
    * groups × dims regardless of corpus size. Per-dim means round 1e-6
    * before the comparison algebra (house rule: each derived stage
    * quantizes before the next, so engines cannot drift).
    *
    * CONTRACT: `snapshot` must evaluate to exactly 0 (baseline) and 1
    * (candidate) — the two sides filter on those literals, so any other
    * encoding (1/2 labels, dates, versions) leaves at most one side
    * populated and the inner join returns an EMPTY report rather than
    * an error; map the snapshot column (`when(...)`) before calling.
    *
    * Returns one row per group present in BOTH snapshots:
    * (group, n_a, n_b, centroid_cos, mean_shift_l2, norm_ratio). */
  def embeddingDrift(emb: DataFrame, groupCol: String,
                     snapshot: Column): DataFrame = {
    // ONE corpus scan: the compiled [x, ‖x‖₂, 1] accumulator through
    // graft_vec_sum — per-(group, snap) state is one double[d+2], the
    // output is bounded (groups × 2 rows). Persisted: it fans out to
    // FOUR consumers (snapStats → both sides' stats, plus dimA/dimB)
    // and recomputation would re-scan the corpus. The posexplode form
    // this replaced multiplied the scan ×d pre-combine and paid an
    // interpreted HOF norm fold per vector.
    graft.functions.VecSumAgg.register(emb.sparkSession)
    graft.functions.VectorExprs.register(emb.sparkSession)
    val sums = graft.operators.Broadcasts.trackedPersist(emb
      .select(col(groupCol).as("grp"), snapshot.cast("int").as("snap"),
        call_function("graft_vec_stats", col("embedding")).as("vs"))
      .groupBy("grp", "snap")
      .agg(expr("graft_vec_sum(vs)").as("s"))
      .withColumn("n", element_at(col("s"), size(col("s"))).cast("long"))
      .withColumn("nrm_sum", element_at(col("s"), size(col("s")) - 1)))
    val snapStats = sums.select(col("grp"), col("snap"), col("n"),
      round(col("nrm_sum") / col("n"), 6).as("mean_norm"))
    // per-dim means: a posexplode over the BOUNDED (groups × 2) frame
    val lvl1 = sums
      .select(col("grp"), col("snap"), col("n"),
        posexplode(slice(col("s"), lit(1), size(col("s")) - 2))
          .as(Seq("dim", "sx")))
      .select(col("grp"), col("snap"), col("dim"),
        round(col("sx") / col("n"), 6).as("m"))
    def side(s: Int, suffix: String) = {
      val st = snapStats.filter(col("snap") === s)
        .select(col("grp"), col("n").as(s"n_$suffix"),
          col("mean_norm").as(s"norm_$suffix"))
      val ms = lvl1.filter(col("snap") === s)
        .select(col("grp"), col("dim"), col("m").as(s"m_$suffix"))
      (st, ms)
    }
    val (statA, dimA) = side(0, "a")
    val (statB, dimB) = side(1, "b")
    val cmp = dimA.join(dimB, Seq("grp", "dim"))
      .groupBy("grp").agg(
        sum(col("m_a") * col("m_b")).as("dot"),
        sum(col("m_a") * col("m_a")).as("na2"),
        sum(col("m_b") * col("m_b")).as("nb2"),
        sum((col("m_a") - col("m_b")) * (col("m_a") - col("m_b"))).as("d2"))
    cmp.join(statA, "grp").join(statB, "grp")
      .select(col("grp").as(groupCol), col("n_a"), col("n_b"),
        round(col("dot") / sqrt(col("na2") * col("nb2")), 6).as("centroid_cos"),
        round(sqrt(col("d2")), 6).as("mean_shift_l2"),
        round(col("norm_b") / col("norm_a"), 6).as("norm_ratio"))
  }

  /** ZCA WHITENING of an embedding column — the decorrelation transform
    * (Bell & Sejnowski 1997's zero-phase components) retrieval pipelines
    * apply before dot-product indexing: anisotropic embedding spaces
    * (sentence encoders are notoriously cone-shaped) make cosine scores
    * saturate, and whitening restores discriminative spread (Su et al.
    * 2021, "Whitening Sentence Representations"). W = V Λ^(-1/2) Vᵀ from
    * the corpus covariance's eigendecomposition; ZCA (not PCA) because it
    * is the unique symmetric whitener — nearest to the identity, so
    * whitened dims stay aligned with the originals.
    *
    * Scale shape: pass 1 aggregates ALL first and second moments in ONE
    * corpus scan — each row emits the flattened array
    * [1, x₀..x_{d-1}, upper-triangle xᵢxⱼ] and a single posexplode +
    * sum-by-position aggregate (map-side combinable; 1 + d + d(d+1)/2
    * keys, bounded by dims² regardless of corpus size) carries every
    * statistic at once. The d×d eigendecomposition runs on the DRIVER
    * (commons-math3, already on Spark's classpath; 64×64 is microseconds
    * — same bounded-driver-math discipline as pqTrain's codebooks).
    * Pass 2 applies W as LITERAL arrays in codegen'd lambdas
    * (zip_with/aggregate dot products — d² multiply-adds per row,
    * scan-local, zero shuffle). Nothing corpus-sized ever reaches the
    * driver and no shuffle carries a vector.
    *
    * Output values are rounded 1e-6 (house rule: quantize before the
    * next derived stage) so a landed artifact replays identically in any
    * engine. `eps` regularizes near-null eigenvalues: an exactly
    * rank-deficient direction keeps ~ZERO variance (λ/(λ+eps) → 0)
    * rather than exploding — whitening cannot invent variance a
    * degenerate embedding model never produced, so callers gating on
    * identity covariance should expect it only from full-rank input.
    *
    * Returns (vec_id, white: array<double>). */
  def whiten(emb: DataFrame, eps: Double = 1e-6): DataFrame = {
    val d = emb.select(min(size(col("embedding"))).as("lo"),
      max(size(col("embedding"))).as("hi")).head() match {
      case r =>
        require(r.getInt(0) == r.getInt(1),
          s"whiten: ragged embedding dims [${r.getInt(0)}, ${r.getInt(1)}]")
        r.getInt(0)
    }
    // ONE elementwise-sum aggregate over the compiled [1, x, upper-tri
    // xᵢxⱼ] moment kernel — graft_vec_sum keeps state at one
    // double[2145] per partition (the posexplode form this replaced
    // multiplied the row count ×(1+d+d(d+1)/2) before the map-side
    // combine), and graft_moments builds the vector in a tight loop
    // (the nested transform/flatten lambdas are CodegenFallback HOFs —
    // ~2k interpreted closures per row at d=64)
    graft.functions.VecSumAgg.register(emb.sparkSession)
    graft.functions.VectorExprs.register(emb.sparkSession)
    val sumArr = emb
      .select(call_function("graft_moments", col("embedding")).as("m"))
      .agg(expr("graft_vec_sum(m)").as("s"))
      .head().getSeq[Double](0)
    val sums: Int => Double = sumArr
    val n = sums(0)
    require(n >= 2, s"whiten: need >= 2 vectors, got $n")
    val mu = Array.tabulate(d)(i => sums(1 + i) / n)
    // upper-triangle linear index of (i<=j), matching the build order
    def ui(i: Int, j: Int) = 1 + d + (i * (2 * d - i - 1)) / 2 + j
    val cov = Array.tabulate(d, d) { (i, j) =>
      val (a, b) = if (i <= j) (i, j) else (j, i)
      sums(ui(a, b)) / n - mu(i) * mu(j)
    }
    import org.apache.commons.math3.linear.{Array2DRowRealMatrix, EigenDecomposition}
    val eig = new EigenDecomposition(new Array2DRowRealMatrix(cov))
    val v = eig.getV
    val invSqrt = Array.tabulate(d)(k =>
      1.0 / math.sqrt(math.max(eig.getRealEigenvalue(k), 0.0) + eps))
    // W = V Λ^(-1/2) Vᵀ, flattened row-major for the literal-array apply
    val wFlat = Array.tabulate(d * d) { p =>
      val (r, c) = (p / d, p % d)
      (0 until d).map(k => v.getEntry(r, k) * invSqrt(k) * v.getEntry(c, k)).sum
    }
    // fused codegen kernel: y = round₆(W·(x−μ)), W/μ as reference
    // objects — same left-to-right accumulation and HALF_UP rounding as
    // the zip_with/aggregate + round(…,6) pipeline it replaced
    emb.select(col("vec_id"),
      call_function("graft_whiten_apply", col("embedding"),
        lit(wFlat), lit(mu)).as("white"))
  }
}
