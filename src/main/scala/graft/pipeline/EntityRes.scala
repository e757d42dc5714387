package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Blocking-based entity resolution (record linkage).
  *
  * Beyond-reference operator: merging near-identical records (vendor
  * catalogs, crawled product names, user profiles) is the classic
  * record-linkage problem, and the only shape that survives 100 TB is
  * BLOCKING — candidates are generated ONLY inside an equi-joinable
  * block key, never via a similarity theta join (Fellegi–Sunter 1969;
  * same discipline as the MinHash/LSH band joins in [[Dedup]]).
  */
object EntityRes {

  /** Candidate pairs by blocking key + edit-distance verify.
    *
    * Stage 1 (blocking): each record maps to ONE deterministic block key
    * — scan-local expressions only. Stage 2 (hot-block cap): block sizes
    * are counted with one skinny aggregate and blocks above `blockCap`
    * are dropped LOUDLY into the returned accounting rather than joined
    * — a degenerate key (empty names, a boilerplate token) would
    * otherwise quadratically explode, the exact failure mode the
    * containment family's shingle cap guards ([[Dedup.shinglePostings]]). Stage 3 (verify): the
    * block-keyed self-equi-join (a shuffle hash join on the key, never a
    * cartesian) emits ordered pairs id_a < id_b and keeps those with
    * levenshtein ≤ maxEdits.
    *
    * Cost at scale: pairs only materialize within blocks, Σ|block|² with
    * |block| ≤ blockCap — linear in records for bounded block sizes, and
    * the cap converts adversarial keys into an explicit coverage note.
    *
    * Returns (id_a, id_b, block_key, edits). */
  def blockedPairs(records: DataFrame, idCol: String, nameCol: String,
                   blockKey: Column, maxEdits: Int = 3,
                   blockCap: Int = 1000): DataFrame = {
    val keyed = records.select(col(idCol).as("id"), col(nameCol).as("nm"),
      blockKey.as("bk"))
    // The block-size table is one row per DISTINCT BLOCK KEY — unbounded
    // in the corpus (names, prefixes, phonetic codes all grow with it) —
    // so the broadcast hint is size-gated: under the measured cap it
    // broadcasts, past it no hint is emitted and the planner shuffles.
    val sizes = graft.operators.Broadcasts.sizeGated(
      keyed.groupBy("bk").agg(count(lit(1)).as("bn"))
        .filter(col("bn") <= blockCap).select("bk"))
    // Explicit bk-repartition at the session's parallelism: the block
    // self-join's INPUT bytes are tiny but its output/CPU is Σ|block|²
    // pairs of edit-distance DP — left to AQE, the byte-based coalescer
    // folds the post-shuffle side to ONE partition and the whole verify
    // runs single-task (measured 4.3 s of a 6 s query in one task at
    // sf0.1). A user repartition is exempt from AQE coalescing, and both
    // self-join sides derive from it, so ONE exchange feeds the join
    // co-partitioned. Partition count follows the session, not a
    // constant — scale-adaptive by construction.
    val kept = keyed.join(sizes, "bk").repartition(
      keyed.sparkSession.sparkContext.defaultParallelism, col("bk"))
    val a = kept.select(col("bk"), col("id").as("id_a"), col("nm").as("nm_a"))
    val b = kept.select(col("bk"), col("id").as("id_b"), col("nm").as("nm_b"))
    a.join(b, "bk")
      .filter(col("id_a") < col("id_b"))
      // Banded levenshtein: the threshold form abandons a pair as soon as
      // the edit distance provably exceeds maxEdits (returns -1), turning
      // O(|a|*|b|) full DP into O(maxEdits * min(|a|,|b|)) per pair — the
      // verify is the hot loop, pairs * len^2 vs pairs * k*len at scale.
      .withColumn("edits", levenshtein(col("nm_a"), col("nm_b"), maxEdits))
      .filter(col("edits") >= 0 && col("edits") <= maxEdits)
      .select(col("id_a"), col("id_b"), col("bk").as("block_key"),
        col("edits").cast("long").as("edits"))
  }

  // ===== Fellegi–Sunter match weights (EM-fit, Winkler 1988) ==========
  // Blocking yields CANDIDATES; real record linkage SCORES them: each
  // pair's comparison vector γ ∈ {0,1}^k (field-agreement bits) gets the
  // log-likelihood-ratio weight Σⱼ γⱼ·ln(mⱼ/uⱼ) + (1−γⱼ)·ln((1−mⱼ)/(1−uⱼ)),
  // with m = P(agree|match), u = P(agree|non-match) fit UNSUPERVISED by
  // EM over the pattern table. The scale shape is the whole point: pairs
  // aggregate into ≤ 2^k pattern rows FIRST (one skinny groupBy), EM
  // runs over patterns — states ≪ pairs, the pqTrain/centroid class of
  // bounded driver math — and the fitted weights are a tiny literal
  // table any engine can replay (the p105 oracle unrolls the identical
  // EM iterations as SQL CTEs).

  /** F-S parameters: λ = P(match) prior, per-field m/u probabilities. */
  case class FsParams(lambda: Double, m: Array[Double], u: Array[Double])

  /** Per-pattern EM fit result row. */
  case class FsPattern(gamma: Seq[Boolean], nPairs: Long, weight: Double,
                       posterior: Double)

  /** Deterministic EM over the comparison-pattern table: fixed init
    * (Winkler's λ=0.1, m=0.9, u=0.1), fixed `iters`, patterns summed in
    * canonical (gamma-sorted) order, every probability clamped to
    * [1e-6, 1−1e-6] each M-step so a field that always (dis)agrees in
    * the candidate set cannot drive a log to ±∞. Pure driver math over
    * ≤ 2^k rows. */
  def fsEm(patterns: Seq[(Seq[Boolean], Long)], iters: Int = 5): FsParams = {
    require(patterns.nonEmpty, "EM needs at least one comparison pattern")
    val k = patterns.head._1.length
    require(patterns.forall(_._1.length == k), "ragged comparison vectors")
    val ps = patterns.sortBy(_._1.map(if (_) "1" else "0").mkString)
    def clamp(x: Double): Double = math.min(1.0 - 1e-6, math.max(1e-6, x))
    var lambda = 0.1
    var m = Array.fill(k)(0.9)
    var u = Array.fill(k)(0.1)
    var it = 0
    while (it < iters) {
      var sumC = 0.0; var sumP = 0.0
      val sumPg = new Array[Double](k)
      val sumQg = new Array[Double](k)
      ps.foreach { case (g, c) =>
        var pm = lambda; var pu = 1.0 - lambda
        var j = 0
        while (j < k) {
          pm *= (if (g(j)) m(j) else 1.0 - m(j))
          pu *= (if (g(j)) u(j) else 1.0 - u(j))
          j += 1
        }
        val post = pm / (pm + pu)
        sumC += c.toDouble
        sumP += c * post
        j = 0
        while (j < k) {
          if (g(j)) { sumPg(j) += c * post; sumQg(j) += c * (1.0 - post) }
          j += 1
        }
      }
      lambda = clamp(sumP / sumC)
      m = Array.tabulate(k)(j => clamp(sumPg(j) / sumP))
      u = Array.tabulate(k)(j => clamp(sumQg(j) / (sumC - sumP)))
      it += 1
    }
    FsParams(lambda, m, u)
  }

  /** Candidate comparison vectors → EM fit → per-pattern weights.
    * `comparators` defines the γ fields as (name, (nm_a, nm_b) => bool)
    * column builders — scan-local expressions evaluated inside the
    * block-keyed join, so the pair stream is verified exactly once and
    * immediately collapses to the pattern table. A comparator that
    * evaluates to NULL on a pair (undecidable — a missing field, a
    * too-short name) is taken as γ=false (disagree). Hot blocks are capped
    * the same way [[blockedPairs]] caps them. Returns one row per
    * observed pattern: (g_<name>..., n_pairs, weight, posterior),
    * weight/posterior rounded to 1e-6. */
  /** @param pairView per-RECORD projection of the name column handed to
    *   the comparators (default: the raw name). Comparator expressions
    *   run once per PAIR side, i.e. Σ|block|² times — a comparator that
    *   re-derives a record feature (tokenize, split, normalize) on every
    *   pair multiplies that work by the pair count (ADVICE/VERDICT r13
    *   item 7). pairView is projected once per record BELOW the
    *   self-join (the §2.3 "project before the exchange" seam), so
    *   comparators can read precomputed fields instead. */
  def fsMatchWeights(records: DataFrame, idCol: String, nameCol: String,
                     blockKey: Column,
                     comparators: Seq[(String, (Column, Column) => Column)],
                     iters: Int = 5, blockCap: Int = 1000,
                     pairView: Column => Column = identity): DataFrame = {
    require(comparators.nonEmpty && comparators.size <= 8,
      "1..8 comparison fields (pattern table is 2^k)")
    val spark = records.sparkSession
    import spark.implicits._
    val keyed = records.select(col(idCol).as("id"), col(nameCol).as("nm"),
      blockKey.as("bk"))
    val sizes = graft.operators.Broadcasts.sizeGated(
      keyed.groupBy("bk").agg(count(lit(1)).as("bn"))
        .filter(col("bn") <= blockCap).select("bk"))
    // same AQE-coalesce guard as blockedPairs: the pair verify is CPU-
    // quadratic per block while its input bytes are tiny — pin the join
    // parallelism with an explicit (coalesce-exempt) bk repartition.
    // pairView is evaluated HERE (once per record, below the exchange),
    // never per pair.
    val kept = keyed.join(sizes, "bk")
      .select(col("bk"), col("id"), pairView(col("nm")).as("fv"))
      .repartition(keyed.sparkSession.sparkContext.defaultParallelism, col("bk"))
    val a = kept.select(col("bk"), col("id").as("id_a"), col("fv").as("nm_a"))
    val b = kept.select(col("bk"), col("id").as("id_b"), col("fv").as("nm_b"))
    // NULL-γ convention: a comparator that cannot decide (e.g.
    // element_at on a one-token name) counts as DISAGREE, not as a NULL
    // group — uncoalesced, the NULL pattern row would NPE the r.getBoolean
    // collect below with no hint of which comparator produced it
    val gammaCols = comparators.map { case (n, f) =>
      coalesce(f(col("nm_a"), col("nm_b")), lit(false)).as(s"g_$n") }
    val patterns = a.join(b, "bk")
      .filter(col("id_a") < col("id_b"))
      .select(gammaCols: _*)
      .groupBy(comparators.map(c => col(s"g_${c._1}")): _*)
      .agg(count(lit(1)).as("n_pairs"))
    // ≤ 2^k rows by construction — the bounded-collect class
    val collected = patterns.collect().map { r =>
      (comparators.indices.map(r.getBoolean), r.getLong(comparators.size))
    }.toSeq
    val fit = fsEm(collected, iters)
    val rows = collected.map { case (g, c) =>
      var w = 0.0; var pm = fit.lambda; var pu = 1.0 - fit.lambda
      g.zipWithIndex.foreach { case (gj, j) =>
        w += (if (gj) math.log(fit.m(j) / fit.u(j))
              else math.log((1.0 - fit.m(j)) / (1.0 - fit.u(j))))
        pm *= (if (gj) fit.m(j) else 1.0 - fit.m(j))
        pu *= (if (gj) fit.u(j) else 1.0 - fit.u(j))
      }
      // HALF_UP to match SQL round semantics (rint is half-to-even)
      def r6(x: Double): Double = BigDecimal(x)
        .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
      FsPattern(g, c, r6(w), r6(pm / (pm + pu)))
    }
    rows.toDF()
      .select(comparators.zipWithIndex.map { case ((n, _), j) =>
        element_at(col("gamma"), j + 1).as(s"g_$n") } ++
        Seq(col("nPairs").as("n_pairs"), col("weight"),
          col("posterior")): _*)
  }

  /** Dropped-block accounting for [[blockedPairs]] — how many blocks and
    * records the cap excluded (the "silent caps" discipline: bounded
    * coverage must be visible in the output, not a comment). */
  def blockCapAccount(records: DataFrame, idCol: String,
                      blockKey: Column, blockCap: Int = 1000): DataFrame = {
    records.select(col(idCol).as("id"), blockKey.as("bk"))
      .groupBy("bk").agg(count(lit(1)).as("bn"))
      .agg(count(lit(1)).as("n_blocks"),
        max(col("bn")).as("max_block"),
        sum(when(col("bn") > blockCap, lit(1)).otherwise(lit(0L)))
          .as("n_blocks_dropped"),
        sum(when(col("bn") > blockCap, col("bn")).otherwise(lit(0L)))
          .as("n_records_dropped"))
  }
}
