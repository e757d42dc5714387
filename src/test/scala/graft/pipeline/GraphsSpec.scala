package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Graphs.triangleStats — degree-oriented exact triangle counting. */
class GraphsSpec extends SparkSpec {
  import spark.implicits._

  /** Undirected, deduped, u < v, no loops: the input triangleStats takes. */
  private def canonical(edges: Seq[(Long, Long)]) =
    edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter { case (u, v) => u < v }.distinct.toDF("u", "v")

  private def stats(edges: Seq[(Long, Long)]) =
    Graphs.triangleStats(canonical(edges)).head()

  test("graft_sorted_intersect_count = size(array_intersect) on sorted distinct arrays") {
    graft.functions.VectorExprs.register(spark)
    val df = spark.range(500).select(col("id"),
      sort_array(array_distinct(transform(sequence(lit(0), (col("id") % 7) + 2),
        i => pmod(col("id") * 13 + i * 29, lit(40))))).as("a"),
      sort_array(array_distinct(transform(sequence(lit(0), (col("id") % 5) + 3),
        i => pmod(col("id") * 7 + i * 11, lit(40))))).as("b"))
    val mismatches = df.filter(
      expr("graft_sorted_intersect_count(a, b)") =!=
        size(array_intersect(col("a"), col("b"))).cast("long")).count()
    assert(mismatches === 0L)
    // empty sides and disjoint sets
    val edge = Seq((Seq.empty[Long], Seq(1L, 2L)), (Seq(1L, 3L), Seq.empty[Long]),
      (Seq(1L, 2L), Seq(3L, 4L)), (Seq(1L, 2L, 3L), Seq(2L, 3L, 9L)))
      .toDF("a", "b")
    assert(edge.select(expr("graft_sorted_intersect_count(a, b)"))
      .as[Long].collect().toSeq === Seq(0L, 0L, 0L, 2L))
  }

  test("K4 has 4 triangles and transitivity 1") {
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val r = stats(k4)
    assert(r.getAs[Long]("n_nodes") === 4)
    assert(r.getAs[Long]("n_edges") === 6)
    assert(r.getAs[Long]("n_wedges") === 12) // 4 nodes x C(3,2)
    assert(r.getAs[Long]("n_triangles") === 4)
    assert(r.getAs[Double]("transitivity") === 1.0)
  }

  test("a star has wedges but zero triangles") {
    val star = (2L to 6L).map(i => (1L, i))
    val r = stats(star)
    assert(r.getAs[Long]("n_wedges") === 10) // C(5,2) at the hub
    assert(r.getAs[Long]("n_triangles") === 0)
    assert(r.isNullAt(r.fieldIndex("transitivity")) ||
      r.getAs[Double]("transitivity") === 0.0)
  }

  test("triangleStats on an empty edge set reports zeros, not NULLs") {
    val r = stats(Seq.empty[(Long, Long)])
    assert(r.getAs[Long]("n_nodes") === 0)
    assert(r.getAs[Long]("n_edges") === 0)
    assert(r.getAs[Long]("n_wedges") === 0)
    assert(r.getAs[Long]("n_triangles") === 0)
  }

  test("each triangle counts exactly once regardless of edge direction/dup input") {
    // triangle 1-2-3 plus a pendant, fed with duplicates + both directions
    val messy = Seq((1L, 2L), (2L, 1L), (2L, 3L), (1L, 3L), (3L, 1L),
      (3L, 4L), (3L, 4L))
    val r = stats(messy)
    assert(r.getAs[Long]("n_edges") === 4)
    assert(r.getAs[Long]("n_triangles") === 1)
  }

  test("two triangles sharing an edge (ties in degree) count as two") {
    // 1-2-3 and 2-3-4: nodes 2,3 have deg 3; 1,4 deg 2 — exercises the
    // (deg, id) tie-break in both orientation and wedge ordering
    val r = stats(Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L)))
    assert(r.getAs[Long]("n_triangles") === 2)
    // wedges: deg 2,3,3,2 -> 1+3+3+1 = 8; transitivity = 6/8
    assert(r.getAs[Long]("n_wedges") === 8)
    assert(r.getAs[Double]("transitivity") === 0.75)
  }

  test("plan is all equi-joins (no cartesian product)") {
    val df = Graphs.triangleStats(canonical(Seq((1L, 2L))))
    // the final one-row crossJoin of two aggregates is fine; the edge-
    // scale joins (orientation, wedges, closure) must all be keyed
    val plan = df.queryExecution.optimizedPlan.toString()
    val cartesians = plan.linesIterator.count(_.contains("Join Cross"))
    assert(cartesians <= 1, s"only the one-row stats join may be cross:\n$plan")
  }
}
