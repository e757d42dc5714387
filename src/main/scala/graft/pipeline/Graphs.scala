package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph analytics beyond [[Rank.pageRank]] and the
  * connected-components family in [[Dedup]].
  */
object Graphs {

  /** Exact triangle count + global transitivity by DEGREE ORIENTATION
    * (the node-iterator of Schank & Wagner 2005, as distributed in
    * Suri & Vassilvitskii's MapReduce formulation).
    *
    * The naive wedge join (all 2-paths probed against the edge set)
    * explodes on hubs: a degree-d node makes C(d,2) wedges, and real
    * graphs are power-law. The fix is a total order ≺ by (degree, id):
    * orient every edge low≺high, build wedges only from each node's
    * OUT-neighbors, and close them against oriented edges. Out-degree
    * is then bounded by O(√m) regardless of hubs (a node ranked above
    * d neighbors has degree ≥ each of theirs, so d ≤ √(2m)), which
    * bounds total wedge work by m^{3/2} — the proven worst case for
    * exact triangle enumeration, hit only by degenerate graphs. Each
    * triangle {a≺b≺c} is counted exactly once, at its base edge (a,b),
    * as c ∈ N⁺(a) ∩ N⁺(b).
    *
    * Plan shape: degrees = one skinny aggregate; orientation = two
    * broadcast-or-shuffle joins of (src,dst) against (node,deg);
    * closure = the oriented-edge stream joined to the out-adjacency
    * table twice (size-gated broadcast), intersecting neighbor arrays
    * per edge. Nothing wider than (long, long) tuples shuffles under
    * the gate; past it the arrays shuffle with wedge-volume bytes —
    * the same asymptotics any exact formulation pays.
    *
    * `edges` must be undirected-canonical: one (u, v) row per edge,
    * u < v, no self loops.
    *
    * Returns one row: (n_nodes, n_edges, n_wedges, n_triangles,
    * transitivity) where n_wedges counts UNDIRECTED wedges Σ C(deg,2)
    * and transitivity = 3·triangles / wedges (NULL when wedge-free). */
  def triangleStats(edges: DataFrame): DataFrame = {
    // Persisted: the canonical edge frame is consumed THREE times (both
    // legs of the degree union + the orientation base), and the caller's
    // edge build is typically an explode+distinct shuffle that would
    // otherwise re-run per consumer. Skinny (long,long) rows.
    val e = graft.operators.Broadcasts.trackedPersist(
      edges.select(col("u").cast("long").as("u"),
        col("v").cast("long").as("v")))
    // Degree table is node-linear (one skinny row per vertex) and feeds
    // BOTH orientation joins plus the wedge aggregate — size-gate it:
    // under the measured cap both joins become broadcast hash joins over
    // one cached build (no shuffle of the m-row edge stream); past the
    // cap the planner shuffles, which is the only correct shape then.
    val deg = graft.operators.Broadcasts.sizeGated(
      e.select(col("u").as("n")).unionAll(e.select(col("v").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d")))
    // orient by (deg, id): src = the ≺-smaller endpoint. Persisted: the
    // oriented edge set is consumed THREE times (both wedge legs + the
    // closure probe) and its build re-runs two edge×degree joins per
    // consumer when recomputed — skinny (long,long,long) rows,
    // MEMORY_AND_DISK spills rather than OOMs.
    val oriented = e
      .join(deg.withColumnRenamed("n", "u").withColumnRenamed("d", "du"), "u")
      .join(deg.withColumnRenamed("n", "v").withColumnRenamed("d", "dv"), "v")
      .select(
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("u"))
          .otherwise(col("v")).as("src"),
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("v"))
          .otherwise(col("u")).as("dst"))
      .transform(graft.operators.Broadcasts.trackedPersist)
    // Closure by ADJACENCY INTERSECTION instead of a wedge-row stream:
    // each triangle x≺y≺z is found exactly once at its base edge (x,y)
    // as z ∈ N⁺(x) ∩ N⁺(y), so the count is one pass over the m oriented
    // edges intersecting two out-neighbor arrays — the m^{3/2} wedge
    // work happens INSIDE codegen'd array_intersect kernels (degree
    // orientation bounds every |N⁺| by O(√m)), never as join rows.
    // Measured at sf0.1 (1.2M edges, 148M wedges): 5.9 s vs 7.6 s for
    // the explicit wedge join this replaced, identical output.
    // The adjacency table is graph-linear (Σ|N⁺| = m), so its reuse on
    // both legs goes through the measured size gate: under the cap the
    // edge stream flows through two broadcast joins without shuffling;
    // past it the planner shuffles — the second join then carries wedge-
    // volume array bytes, the same asymptotics the wedge stream paid.
    // adjacency arrays SORT ONCE at build so the per-edge intersection
    // is an allocation-free linear merge inside codegen
    // (graft_sorted_intersect_count) — array_intersect built a hash set
    // AND materialized the intersection array per edge pair when only
    // the count is needed (measured 5.0 → 3.1 s at sf0.1)
    graft.functions.VectorExprs.register(oriented.sparkSession)
    val adj = graft.operators.Broadcasts.sizeGated(
      oriented.groupBy("src").agg(sort_array(collect_list(col("dst"))).as("nbrs")))
    val tri = oriented
      .join(adj, "src").select(col("dst"), col("nbrs").as("nu"))
      .join(adj.withColumnRenamed("src", "dst"), "dst")
      .agg(coalesce(sum(expr("graft_sorted_intersect_count(nu, nbrs)")),
        lit(0L)).as("n_triangles"))
    // Integral `div`, not true division: sum(long)/2 goes through DOUBLE,
    // whose 53-bit mantissa silently truncates once sum(d*(d-1)) passes
    // 2^53 (one hub of degree ~1e8 suffices) — `div` stays in LongType.
    // coalesce: sum over ZERO rows is NULL while count is 0 — an empty
    // subgraph must report proper zeros, not NULLs that propagate into
    // the consumer's arithmetic (n_triangles below is already coalesced)
    val degAgg = deg.agg(
      count(lit(1)).as("n_nodes"),
      coalesce(expr("sum(d) div 2"), lit(0L)).as("n_edges"),
      coalesce(expr("sum(d * (d - 1)) div 2"), lit(0L)).as("n_wedges"))
    degAgg.crossJoin(tri)
      .withColumn("transitivity",
        when(col("n_wedges") > 0,
          round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6)))
  }
}
