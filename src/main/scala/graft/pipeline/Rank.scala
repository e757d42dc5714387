package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph centrality for corpus curation. Web-corpus recipes weight
  * or filter pages by graph centrality (Common Crawl publishes harmonic/
  * PageRank ranks per host; OPIC scores steer the crawl itself), so the
  * engine needs a distributed fixed-point iteration over an edge list —
  * the same iterative-skinny-shuffle family as
  * [[Dedup.connectedComponents]]'s star loop, but propagating weighted
  * mass along edges instead of rewiring edges toward component minima.
  */
object Rank {

  /** Fixed-iteration PageRank over an edge list.
    *
    * Semantics are pinned for cross-engine parity (any SQL engine can
    * replay them exactly):
    *   - out-degree is counted over the deduped `edges` as given;
    *   - dangling nodes (no out-edges) LEAK their damped mass rather
    *     than redistributing it — redistribution needs a per-round
    *     global sum whose accumulation order is engine-specific, while
    *     leaking keeps every term a local edge contribution;
    *   - a FIXED iteration count, no convergence epsilon — the unrolled
    *     plan is finite and restatable as chained SQL CTEs.
    *
    * Scale shape: per round, ONE shuffle keyed by dst for the mass
    * aggregate and one left join back onto nodes (both partial-
    * aggregated map-side). The per-round result is cached and the
    * previous round unpersisted, so memory is two score tables of
    * (id, double) — skinny at any corpus size. Iteration count is the
    * caller's mixing-time budget: centrality weighting uses O(5-10)
    * rounds, not convergence to machine epsilon.
    *
    * `nodes` must have column `id`; `edges` columns `src`, `dst`.
    * Returns (id, score).
    */
  def pageRank(nodes: DataFrame, edges: DataFrame, iters: Int,
               damping: Double = 0.85): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    // bounded driver action: one long (the node count seeds 1/n)
    val n = nodes.select(col("id")).distinct().count()
    require(n > 0, "pageRank needs a non-empty node set")
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // (src, dst, deg) is reused every round — cache once
    val e = edges.join(deg, "src").cache()
    val teleport = (1.0 - damping) / n
    var scores = nodes.select(col("id"), lit(1.0 / n).as("score")).cache()
    var it = 0
    while (it < iters) {
      val mass = e.join(scores, e("src") === scores("id"))
        .groupBy(col("dst")).agg(sum(col("score") / col("deg")).as("in_mass"))
      val updated = nodes.select(col("id"))
        .join(mass, col("id") === mass("dst"), "left")
        .select(col("id"),
          (lit(teleport) + lit(damping) * coalesce(col("in_mass"), lit(0.0)))
            .as("score"))
        .cache()
      updated.count() // materialize before dropping the previous round
      scores.unpersist()
      scores = updated
      it += 1
    }
    e.unpersist()
    scores
  }
}
