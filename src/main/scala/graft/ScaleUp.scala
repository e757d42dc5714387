package graft

import org.apache.spark.sql.functions._

/** Synthesizes a ×`factor` corpus from an sf dir for the 100×-story
  * probe (VERDICT r7 item 10): ScalingSpec's 500→5000-doc slope guards
  * can't see memory pressure, spill, or broadcast-gate flips — one real
  * run at 10× can. Replicas shift every key space so they stay disjoint
  * (cluster structure scales linearly, the way a genuinely bigger crawl
  * does) and salt text/names with replica-distinct tokens so
  * cross-replica docs do NOT become ≥0.95 near-dups (10 verbatim copies
  * would square every dup cluster instead — a different corpus, not a
  * bigger one). Replica 0 is byte-identical to the source, so the
  * scaled dir strictly contains it. Embedding vectors get a
  * replica-dependent nudge on one component for the same reason.
  *
  * Usage: runMain graft.ScaleUp <srcSfDir> <outDir> <factor>
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val Array(src, out, factorS) = args
    val factor = factorS.toInt
    val spark = Session(Session.cpus)
    val reps = broadcast(spark.range(factor).select(col("id").as("rep")))
    def t(name: String) = spark.read.parquet(s"$src/$name.parquet")
    def w(df: org.apache.spark.sql.DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")

    val d = t("documents")
    val maxDoc = d.agg(max("doc_id")).head().getLong(0) + 1
    // PERVASIVE salting, not a 4-token tail (r11 postmortem): tail salt
    // keeps cross-replica token-set J at ~0.85 and 3-gram-shingle J at
    // ~0.9 — below a 0.95 dedup threshold but far ABOVE the 0.5 ones
    // (p10/p20/p36), so the ×10 corpus carried ~×100 true pairs (99% of
    // p10's sf1 pairs were cross-replica) and every 0.5-threshold
    // operator's wall read as a phantom 20×-law breach. A replica-
    // distinct token glued after EVERY 3rd token makes every 3-token
    // shingle window carry the replica mark (cross-replica shingle J →
    // 0) at +33% length; the distinct tail tokens still separate
    // token-SET similarity. Within a replica all docs get marks at the
    // same positions, so planted near-dup structure survives; replica 0
    // stays byte-identical.
    val toks = split(col("text"), "\\s+")
    val strideSalted = array_join(
      transform(toks, (tk, i) =>
        when(i % 3 === 2, concat(tk, lit(" zs"), col("rep"))).otherwise(tk)),
      " ")
    val salted = when(col("rep") === 0, col("text")).otherwise(concat_ws(" ",
      strideSalted,
      concat(lit("zrep"), col("rep")), concat(lit("zsalt"), col("rep")),
      concat(lit("zmark"), col("rep")), concat(lit("ztag"), col("rep"))))
    w(d.crossJoin(reps).select(
      (col("doc_id") + col("rep") * maxDoc).as("doc_id"),
      salted.as("text"), col("lang"), col("source"),
      length(salted).cast("long").as("n_chars")), "documents")

    val e = t("embeddings")
    val maxVec = e.agg(max("vec_id")).head().getLong(0) + 1
    // Per-replica ORTHOGONAL ROTATION, not a one-component nudge (r11
    // postmortem): the nudge left cross-replica cosine at ~0.999, so
    // cosine-threshold operators (p07/p09/p68) saw ~×100 true pairs at
    // ×10 scale. A rotation preserves every within-replica cosine
    // EXACTLY (structure scales linearly by construction) while
    // cross-replica cosines collapse to ~0 (random 64-dim directions).
    // Replica 0 gets the identity.
    val dims = e.select(size(col("embedding"))).head().getInt(0)
    val rots: Map[Long, Array[Float]] = (0L until factor.toLong).map { r =>
      r -> (if (r == 0) identityMat(dims) else randomRotation(dims, seed = 77 + r))
    }.toMap
    val rotsB = spark.sparkContext.broadcast(rots)
    val rotate = udf { (emb: Seq[Float], rep: Long) =>
      val m = rotsB.value(rep)
      val n = emb.length
      val out = new Array[Float](n)
      var i = 0
      while (i < n) {
        var s = 0.0
        var j = 0
        while (j < n) { s += m(i * n + j) * emb(j); j += 1 }
        out(i) = s.toFloat
        i += 1
      }
      out
    }
    w(e.crossJoin(reps).select(
      (col("vec_id") + col("rep") * maxVec).as("vec_id"),
      rotate(col("embedding"), col("rep")).as("embedding"),
      col("label")), "embeddings")

    val li = t("lineitem")
    val Array(maxO, maxP, maxS) = li.agg(max("l_orderkey"), max("l_partkey"),
      max("l_suppkey")).head().toSeq.map(_.asInstanceOf[Long] + 1).toArray
    w(li.crossJoin(reps).select(
      (col("l_orderkey") + col("rep") * maxO).as("l_orderkey"),
      (col("l_partkey") + col("rep") * maxP).as("l_partkey"),
      (col("l_suppkey") + col("rep") * maxS).as("l_suppkey"),
      col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
      col("l_discount"), col("l_tax"), col("l_returnflag"),
      col("l_linestatus"), col("l_shipdate")), "lineitem")

    val p = t("part")
    val maxPart = p.agg(max("p_partkey")).head().getLong(0) + 1
    w(p.crossJoin(reps).select(
      (col("p_partkey") + col("rep") * maxPart).as("p_partkey"),
      when(col("rep") === 0, col("p_name"))
        .otherwise(concat(col("p_name"), lit(" r"), col("rep"))).as("p_name"),
      col("p_brand"), col("p_type"), col("p_size"), col("p_retailprice")),
      "part")

    // remaining tables copy through unscaled (probe queries don't stress
    // them; copying keeps every SparkEntry query runnable on the dir)
    Seq("region", "nation", "customer", "supplier", "orders", "events")
      .foreach(n => w(t(n), n))
    println(s"SCALEUP done: $out at ${factor}x of $src")
    spark.stop()
  }

  private[graft] def identityMat(d: Int): Array[Float] = {
    val m = new Array[Float](d * d)
    var i = 0
    while (i < d) { m(i * d + i) = 1f; i += 1 }
    m
  }

  /** Random orthogonal matrix (row-major), seeded: Gaussian entries +
    * modified Gram–Schmidt. Determinant sign is irrelevant for the
    * cosine-preservation property. */
  private[graft] def randomRotation(d: Int, seed: Long): Array[Float] = {
    val rnd = new java.util.Random(seed)
    val rows = Array.fill(d)(Array.fill(d)(rnd.nextGaussian()))
    var i = 0
    while (i < d) {
      var j = 0
      while (j < i) {
        var dot = 0.0
        var k = 0
        while (k < d) { dot += rows(i)(k) * rows(j)(k); k += 1 }
        k = 0
        while (k < d) { rows(i)(k) -= dot * rows(j)(k); k += 1 }
        j += 1
      }
      var nrm = 0.0
      var k = 0
      while (k < d) { nrm += rows(i)(k) * rows(i)(k); k += 1 }
      nrm = math.sqrt(nrm)
      require(nrm > 1e-9, "degenerate Gram-Schmidt draw")
      k = 0
      while (k < d) { rows(i)(k) /= nrm; k += 1 }
      i += 1
    }
    val m = new Array[Float](d * d)
    i = 0
    while (i < d) {
      var k = 0
      while (k < d) { m(i * d + k) = rows(i)(k).toFloat; k += 1 }
      i += 1
    }
    m
  }
}
