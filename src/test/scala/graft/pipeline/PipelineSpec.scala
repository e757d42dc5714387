package graft.pipeline

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Pipeline operators over the driver-provided documents/embeddings
  * tables at sf0.001 (cross-engine value parity is covered by the DuckDB
  * oracle at sf0.01; these specs assert the algorithmic properties the
  * oracle can't see — recall, banding exactness, batch shapes). */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$dir/documents.parquet")
  private lazy val embs = spark.read.parquet(s"$dir/embeddings.parquet")

  test("minhash-LSH recovers exactly the exact-Jaccard pairs (no O(n²) on engine side)") {
    val lsh = Dedup.minhashPairs(docs, "doc_id", "text", k = 64, bands = 16, threshold = 0.5)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute-force ground truth (test-only; tiny sf)
    val sh = docs.select(col("doc_id").as("id"),
      TextOps.shingles(TextOps.tokens(col("text"))).as("sh")).filter(size(col("sh")) > 0)
    val exact = sh.as("a").join(sh.as("b"), col("a.id") < col("b.id"))
      .withColumn("jac", size(array_intersect(col("a.sh"), col("b.sh"))).cast("double") /
        size(array_union(col("a.sh"), col("b.sh"))).cast("double"))
      .filter(col("jac") >= 0.5)
      .select(col("a.id"), col("b.id")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
    assert(lsh == exact)
  }

  test("n-gram Jaccard prefix join is EXACT vs brute force") {
    val ix = Dedup.jaccardJoin(docs, "doc_id", "text", 0.5, Dedup.ShingleSets(3)).pairs
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sh = docs.select(col("doc_id").as("id"),
      TextOps.shingles(TextOps.tokens(col("text"))).as("sh")).filter(size(col("sh")) > 0)
    val exact = sh.as("a").join(sh.as("b"), col("a.id") < col("b.id"))
      .withColumn("jac", size(array_intersect(col("a.sh"), col("b.sh"))).cast("double") /
        size(array_union(col("a.sh"), col("b.sh"))).cast("double"))
      .filter(col("jac") >= 0.5)
      .select(col("a.id"), col("b.id")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty && ix == exact)
  }

  test("n-gram Jaccard join keeps a true pair whose every shared shingle has df > 1000") {
    // 1100 fillers `a b c d e` + 10 unique words lift the df of the
    // pair's only shared shingles (a b c, b c d, c d e) to 1102, past
    // the 1000 a document-frequency cap drops: a capped inverted index
    // loses the pair (J = 3/5); the prefix filter keys each doc on its
    // RAREST shingles and, by its pigeonhole proof, still pairs them.
    // Fillers score J = 3/14 against the pair and 3/23 among themselves.
    val fill = (1 to 1100).map(n =>
      (1000L + n, "a b c d e " + (1 to 10).map(k => s"u${n}_$k").mkString(" ")))
    val df = (Seq((1L, "a b c d e f1"), (2L, "a b c d e f2")) ++ fill).toDF("doc_id", "text")
    val got = Dedup.jaccardJoin(df, "doc_id", "text", 0.5, Dedup.ShingleSets(3)).pairs
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got == Map((1L, 2L) -> 0.6))
  }

  test("dfCap default kills the quadratic candidates of an ubiquitous shingle") {
    // 40 docs share a boilerplate prefix (an ubiquitous shingle: df=40);
    // two extra docs are true near-dups sharing only RARE shingles.
    val boiler = "terms of service apply to all"
    val uniq = (1 to 40).map(n =>
      (n.toLong, s"$boiler alpha$n beta$n gamma$n delta$n epsilon$n zeta$n"))
    val dupText = "the quick brown fox jumps over the lazy dog again and again"
    val dups = Seq((101L, dupText), (102L, dupText + " extra"))
    val df = (uniq ++ dups).toDF("doc_id", "text")

    val base = Dedup.hashedShingled(df, "doc_id", "text")
    def candidates(dfCap: Int): Long = {
      val posts = Dedup.shinglePostings(base, dfCap)
      posts.as("a").join(posts.as("b"),
          col("a.sh_h") === col("b.sh_h") && col("a.id") < col("b.id"))
        .count()
    }
    val uncapped = candidates(0)
    val capped = candidates(10)
    // boilerplate alone contributes >= 4 shingles x C(40,2) pairs uncapped
    assert(uncapped >= 4 * 780L, s"uncapped=$uncapped")
    // capped: only the rare shingles of the planted dup pair remain
    assert(capped < 40, s"capped=$capped should be linear, not quadratic")
    // and the n-gram Jaccard join finds exactly the true pair on this
    // corpus: the prefix filter keys each doc on its rarest shingles
    val pairs = Dedup.jaccardJoin(df, "doc_id", "text", 0.5, Dedup.ShingleSets(3)).pairs
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((101L, 102L)))
  }

  test("simhash banding is exact for hamming <= 3 (pigeonhole)") {
    val sigs = Dedup.simhashSignatures(docs, "doc_id", "text").cache()
    try {
      val banded = Dedup.simhashPairs(sigs, maxHamming = 3)
        .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val exact = sigs.as("a").join(sigs.as("b"), col("a.id") < col("b.id"))
        .withColumn("h", bit_count(col("a.sig").bitwiseXOR(col("b.sig"))))
        .filter(col("h") <= 3)
        .select(col("a.id"), col("b.id")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(banded == exact) // banding may not miss a single pair
    } finally sigs.unpersist()
  }

  test("exactProbePairs equals all-pairs brute force over the probe prefix") {
    val probeMax = 1000000L // covers every id at sf0.001 → full pair set
    val guard = Ann.exactProbePairs(embs, probeMax, 0.45)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bf = embs.as("a").join(embs.as("b"), col("a.vec_id") < col("b.vec_id"))
      .withColumn("c", round(Ann.cosine(col("a.embedding"), col("b.embedding")), 6))
      .filter(col("c") >= 0.45)
      .select(col("a.vec_id"), col("b.vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(guard == bf && bf.nonEmpty)
  }

  test("recall guard catches an LSH that drops true pairs") {
    // degenerate LSH (1 table, many planes) has near-zero recall at the
    // dedup threshold — the truth/except guard must SEE the missed pairs
    val truth = Ann.exactProbePairs(embs, 1000000L, 0.45).select("i", "j")
    val weak = Ann.cosineNearDupPairs(embs, dims = 64, threshold = 0.45,
      planes = 16, tables = 1).select("i", "j")
    val missed = truth.except(weak).count()
    assert(missed > 0, "a degenerate LSH should visibly miss true pairs")
    // while the shipped parameters miss none (what p09's require pins)
    val shipped = Ann.cosineNearDupPairs(embs, dims = 64, threshold = 0.45)
      .select("i", "j")
    assert(truth.except(shipped).count() == 0)
  }

  test("nearDupPairsAuto: identity inside the LSH budget; over-cap swaps to probed cells") {
    // inside the budget the dispatcher IS the LSH path — same pair set
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = pairSet(Ann.cosineNearDupPairs(embs, dims = 64, threshold = 0.45))
    val auto = pairSet(Ann.nearDupPairsAuto(embs, dims = 64, threshold = 0.45))
    assert(auto == lsh && lsh.nonEmpty)
    // regime flag, both bind modes: tables clamped under the analytic
    // recall requirement (mode B), planes backed off occupancy (mode A)
    assert(Ann.autoLshParamsDetailed(500L, 0.45, tablesCap = 8)._3,
      "a cap under the analytic tables requirement must flag over-cap")
    assert(Ann.autoLshParamsDetailed(500L, 0.45, bucketTarget = 1,
      tablesCap = 100)._3, "backed-off planes must flag over-cap")
    // at DEFAULT params the first over-cap decade is ~128k vectors.
    // r12 tried an 8k crossover (cells from the ×10 probe up, 54.5 s vs
    // 361 s at sf1) and REVERTED it on measurement: the cell path's
    // pair recall at cos 0.45 tracks the probed-cell fraction
    // nProbe/nCells (96.5% at 25%, 60.5% at the 2.5% a ×10 corpus
    // implies — the sf1 recall gate failed), and holding the fraction
    // is quadratic. Every measured scale stays in the high-recall LSH
    // regime, graded against its analytic n^1.62 budget.
    assert(!Ann.autoLshParamsDetailed(2000L, 0.45)._3)
    assert(!Ann.autoLshParamsDetailed(20000L, 0.45)._3,
      "the ×10 probe scale must stay in the high-recall LSH regime")
    assert(!Ann.autoLshParamsDetailed(100000L, 0.45)._3)
    assert(Ann.autoLshParamsDetailed(1000000L, 0.45)._3)

    // force the over-cap regime and grade the SWAPPED path: recall floor
    // vs exact truth, exact-verify precision, and the linear
    // candidate-volume bound the scaladoc claims. Graded on the sf0.1
    // corpus (2000 vecs) — sf0.001 has only 7 true pairs, so a single
    // boundary straddle would swing measured recall by 14 points
    val embsBig = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    val truth = pairSet(Ann.exactProbePairs(embsBig, 1000000L, 0.45))
    val cellTarget = 125 // the shipped defaults, graded as shipped
    val nProbe = 4
    val swapped = pairSet(Ann.nearDupPairsAuto(embsBig, dims = 64,
      threshold = 0.45, tablesCap = 8))
    assert(swapped.subsetOf(truth),
      "exact cosine verify means the swapped path reports no false pair")
    val recall = (truth & swapped).size.toDouble / truth.size
    assert(recall >= 0.9,
      f"swapped-path recall $recall%.3f under floor (${truth.size} true pairs, " +
        s"missed ${(truth -- swapped).size})")
    // candidate volume: Σ_cell c·(c−1)/2 over the probed postings must
    // stay within the multi-probe linear bound the scaladoc claims.
    // (No all-pairs comparison at THIS scale: 16 cells × 4 probes barely
    // prunes a 2000-vec corpus — the pruning claim is the bound's shape,
    // nProbe²·n·cellTarget, which is linear in n while all-pairs is n².)
    val n = embsBig.count()
    val nCells = math.max(2, math.ceil(n.toDouble / cellTarget)).toInt
    val volume = Ann.kmeansCellsProbed(embsBig, nCells, nProbe)
      .groupBy("cell").agg(count(lit(1)).as("c"))
      .agg(sum(col("c") * (col("c") - 1) / 2)).head().getDouble(0)
    assert(volume <= nProbe.toDouble * nProbe * n * cellTarget,
      f"candidate volume $volume%.0f over the linear bound")
  }

  test("semDedup cell recall tracks the probed-cell fraction (the r12 measured curve, as a law)") {
    // VERDICT r12 item 7: the measured curve (96.5% recall at a 25%
    // probed-cell fraction, 60% at 2.5% — the evidence that rejected the
    // 8k crossover) is the load-bearing fact behind keeping LSH in
    // nearDupPairsAuto's default regime. Encode its SHAPE as a law so a
    // change to semDedupPairsProbed that shifts the curve fails a test,
    // not a round: at a moderate threshold, recall at a high probed
    // fraction clears the floor the swap would need, recall at a low
    // fraction does NOT (it is genuinely lossy — anyone proposing the
    // cell regime at corpus-implied fractions must pay that), and the
    // curve is monotone in the fraction.
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val embsBig = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    val truth = pairSet(Ann.exactProbePairs(embsBig, 1000000L, 0.45))
    def recallAt(nCells: Int, nProbe: Int): Double = {
      val got = pairSet(Ann.semDedupPairsProbed(embsBig, nCells, nProbe, 0.45))
      assert(got.subsetOf(truth), "exact verify ⇒ no false pairs at any fraction")
      (truth & got).size.toDouble / truth.size
    }
    val rHigh = recallAt(16, 4)  // 25% probed fraction (the measured point)
    val rLow = recallAt(40, 1)   // 2.5% — what a ×10 corpus implies
    assert(rHigh >= 0.85, f"high-fraction recall $rHigh%.3f under the 0.85 floor")
    assert(rLow <= 0.90, f"low-fraction recall $rLow%.3f suspiciously high — " +
      "if the curve genuinely moved, re-derive the nearDupPairsAuto crossover " +
      "(SCALE.md p09) before relaxing this ceiling")
    assert(rLow < rHigh, f"curve must be monotone in fraction: $rLow%.3f !< $rHigh%.3f")
  }

  test("autoLshParams: reproduces tuned params at test scale; planes-growth law") {
    def autoLshParams(n: Long, threshold: Double): (Int, Int) = {
      val (planes, tables, _) = Ann.autoLshParamsDetailed(n, threshold)
      (planes, tables)
    }
    // at every test SF (n ≤ 2000 embeddings) the floors must reproduce
    // the hand-tuned (4, 32) EXACTLY — oracle behavior unchanged
    assert(autoLshParams(200L, 0.45) === ((4, 32)))
    assert(autoLshParams(2000L, 0.45) === ((4, 32)))
    // growth: the modeled multi-table miss stays under the p09 in-query
    // floor (0.5%) at EVERY decade — including past the tablesCap
    // bind-point, where planes backs off instead of recall degrading —
    // and candidate work (tables·n²/2^planes) always prunes strictly
    // harder than the fixed (4, 32) parameterization the ×10 probe
    // measured at 88.6×
    val r = 1.0 - math.acos(0.45) / math.Pi
    for (n <- Seq(20000L, 200000L, 2000000L, 20000000L)) {
      val (planes, tables) = autoLshParams(n, 0.45)
      val miss = math.pow(1.0 - math.pow(r, planes), tables)
      assert(miss <= 0.005, f"modeled miss $miss%.4f over floor at n=$n")
      val workFactor = tables.toDouble / (1L << planes)   // × n²/2
      assert(workFactor < 32.0 / 16.0,
        s"auto params prune no better than fixed at n=$n ($planes, $tables)")
    }
    // monotone: more data never means fewer planes
    val ps = Seq(2000L, 20000L, 200000L).map(autoLshParams(_, 0.45)._1)
    assert(ps == ps.sorted)
  }

  test("lshTop1Auto: identity with tuned (6,8) at test scale; cell swap past the cap") {
    // the top-1 design point (cos 0.7, recall 0.75, bucketTarget 32,
    // floors 6/8) must reproduce the hand-tuned parameterization at
    // every test SF — p07's results stay byte-identical
    assert(Ann.autoLshParamsDetailed(500L, 0.7, 0.75, 32, 6, 8, 64)
      === ((6, 8, false)))
    assert(Ann.autoLshParamsDetailed(2000L, 0.7, 0.75, 32, 6, 8, 64)
      === ((6, 8, false)))
    // growth: planes track log2(n/32), tables re-buy the modeled recall
    val (p20k, t20k, over20k) =
      Ann.autoLshParamsDetailed(20000L, 0.7, 0.75, 32, 6, 8, 64)
    assert(p20k == 10 && !over20k, s"n=20k should stay LSH, got ($p20k, $t20k)")
    val r = 1.0 - math.acos(0.7) / math.Pi
    assert(math.pow(1.0 - math.pow(r, p20k), t20k) <= 0.25,
      "modeled top-1 miss over the design floor at n=20k")
    // the swap point: past tables-cap 64 (n > 32·2^13 ≈ 262k) top-1
    // leaves LSH for the linear cell kernel
    assert(Ann.autoLshParamsDetailed(300000L, 0.7, 0.75, 32, 6, 8, 64)._3)
    // identity on data: auto == tuned at the test SF
    def nnSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val tuned = nnSet(Ann.lshNeighbors(embs, dims = 64, planes = 6, tables = 8))
    val auto = nnSet(Ann.lshTop1Auto(embs, dims = 64))
    assert(auto == tuned && tuned.nonEmpty)
    // forced over-cap: the cell path still finds near-optimal neighbors
    val swapped = Ann.lshTop1Auto(embs, dims = 64, tablesCap = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val bf = Ann.bruteForceTopK(embs, embs, k = 1)
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hits = swapped.count { case (q, n) => bf.get(q).contains(n) }
    val recall = hits.toDouble / bf.size
    info(f"cell-swapped top-1 recall: $recall%.3f")
    assert(recall >= 0.5, f"cell top-1 recall $recall%.3f too low")
  }

  test("LSH-bucketed ANN top-1 recall >= 0.6 vs brute force, no all-pairs") {
    val bf = Ann.bruteForceTopK(embs, embs, k = 1)
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lsh = Ann.lshNeighbors(embs, dims = 64, planes = 4, tables = 16)
      .select(col("vec_id"), col("neighbor_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hits = lsh.count { case (q, n) => bf.get(q).contains(n) }
    val recall = hits.toDouble / bf.size
    info(f"LSH top-1 recall: $recall%.3f (coverage ${lsh.size}/${bf.size})")
    assert(recall >= 0.6, f"recall $recall%.3f too low")
  }

  test("filteredTopK: neighbors never cross the label boundary; planted dup found") {
    // id 0 (label 0) and id 1 (label 1) are EXACTLY identical vectors —
    // the filter must keep them apart; id 2 (label 0) is a light
    // perturbation of id 0 — the true same-label neighbor
    val r = new scala.util.Random(11)
    def vec() = Array.fill(64)(r.nextGaussian().toFloat)
    val base = vec()
    val rows = Seq(
      (0L, base, 0), (1L, base, 1),
      (2L, base.map(x => x + 0.02f * r.nextGaussian().toFloat), 0)) ++
      (10L until 60L).map(i => (i, vec(), (i % 2).toInt))
    val df = spark.createDataFrame(rows).toDF("vec_id", "embedding", "label")
    val out = Ann.filteredTopK(df, df, "label", dims = 64, k = 3,
      planes = 4, tables = 16)
    val labels = rows.map(t => t._1 -> t._3).toMap
    out.select("query_id", "neighbor_id").collect().foreach { row =>
      assert(labels(row.getLong(0)) === labels(row.getLong(1)),
        s"cross-label neighbor: ${row.getLong(0)} -> ${row.getLong(1)}")
    }
    val top0 = out.filter(col("query_id") === 0L && col("rank") === 1L)
      .select("neighbor_id").head().getLong(0)
    assert(top0 === 2L, s"query 0's same-label near-dup should win, got $top0")
  }

  test("embedding-cosine near-dup: planted duplicate detection") {
    // validate the cosine op on self-similarity...
    val self = embs.limit(5)
      .withColumn("cos", Ann.cosine(col("embedding"), col("embedding")))
      .select("cos").collect().map(_.getDouble(0))
    assert(self.forall(c => math.abs(c - 1.0) < 1e-9))

    // ...and LSH near-dup recall on PLANTED near-dups: for each of 10
    // vectors, plant a lightly-perturbed copy (cos ≈ 0.999) among the
    // corpus — at dedup thresholds bucket agreement is near-certain, so
    // every planted pair must surface
    val r = new scala.util.Random(3)
    def vec() = Array.fill(64)(r.nextGaussian().toFloat)
    def perturb(v: Array[Float]) = v.map(x => x + 0.02f * r.nextGaussian().toFloat)
    val originals = (0L until 10L).map(i => i -> vec())
    val planted = originals.map { case (i, v) => (i + 1000L) -> perturb(v) }
    val noise = (100L until 200L).map(i => i -> vec())
    val df = spark.createDataFrame(originals ++ planted ++ noise)
      .toDF("vec_id", "embedding")
    val pairs = Ann.cosineNearDupPairs(df, dims = 64, threshold = 0.9)
      .collect().map(row => (row.getLong(0), row.getLong(1))).toSet
    val expected = (0L until 10L).map(i => (i, i + 1000L)).toSet
    assert(expected.subsetOf(pairs), s"missed planted pairs: ${expected -- pairs}")
    // and nothing among pure noise clears a 0.9 threshold
    assert(pairs.forall { case (i, j) => expected.contains((i, j)) })
  }

  test("cosineCentroids: partitioning-independent, unit-norm, deterministic") {
    // the r14 sample fit replaced MLlib KMeans precisely because the
    // seeded k-means|| init changes with RDD partitioning; pin that the
    // replacement does NOT — same centroids from a 1-partition and a
    // 16-partition layout of the same rows, bit for bit
    val a = Ann.cosineCentroids(embs.coalesce(1), nCells = 8)
    val b = Ann.cosineCentroids(embs.repartition(16), nCells = 8)
    assert(a.length == 8 && a.zip(b).forall { case (x, y) => x.sameElements(y) },
      "fit must be independent of input partitioning")
    a.foreach { c =>
      val n = math.sqrt(c.map(x => x.toDouble * x).sum)
      assert(math.abs(n - 1.0) < 1e-6, s"centroid not unit-norm: $n")
    }
    // assignment covers every vector exactly once and cells are in range
    val cells = Ann.kmeansCells(embs, nCells = 8).collect()
    assert(cells.length == embs.count())
    assert(cells.forall(r => r.getLong(1) >= 0 && r.getLong(1) < 8))
  }

  test("IVF ANN: full probe equals brute force; partial probe recalls") {
    val queries = embs.filter(col("vec_id") < 20)
    val bf = Ann.bruteForceTopK(embs, queries, k = 3)
      .select("query_id", "rank", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // nProbe == nCells probes every cell -> exact brute-force equivalence
    val full = Ann.ivfTopK(embs, queries, k = 3, nCells = 8, nProbe = 8)
      .select("query_id", "rank", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(full == bf)
    // partial probe keeps reasonable top-1 recall
    val part = Ann.ivfTopK(embs, queries, k = 1, nCells = 8, nProbe = 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bf1 = bf.filter(_._2 == 1L).map(t => t._1 -> t._3).toMap
    val recall = bf1.count { case (q, n) => part.get(q).contains(n) }.toDouble / bf1.size
    info(f"IVF nProbe=3/8 top-1 recall: $recall%.2f")
    assert(recall >= 0.5)
  }

  test("PQ: centroid-valued corpus is lossless; encode/ADC/re-rank agree") {
    import spark.implicits._
    // hand-built codebooks: m=2 subspaces of 2 dims, 2 codes each
    val cbs = Array(
      Array(Array(0.0, 0.0), Array(10.0, 10.0)),
      Array(Array(0.0, 0.0), Array(5.0, 5.0)))
    // vectors ON the centroid grid -> zero quantization error
    val vecs = Seq(
      (0L, Seq(0f, 0f, 0f, 0f)), (1L, Seq(10f, 10f, 0f, 0f)),
      (2L, Seq(0f, 0f, 5f, 5f)), (3L, Seq(10f, 10f, 5f, 5f))
    ).toDF("vec_id", "embedding")
    val codes = Ann.pqEncode(vecs, cbs)
      .select("vec_id", "codes").as[(Long, Seq[Long])].collect().toMap
    assert(codes(0L) === Seq(0L, 0L) && codes(1L) === Seq(1L, 0L))
    assert(codes(2L) === Seq(0L, 1L) && codes(3L) === Seq(1L, 1L))
    // ADC distances are exact here, so PQ top-k == exact L2 top-k
    val q = vecs.filter(col("vec_id") === 0L)
    val pq = Ann.pqTopK(Ann.pqEncode(vecs, cbs), vecs, q, k = 3, cbs, shortlist = 3)
      .select("rank", "neighbor_id", "dist").as[(Long, Long, Double)].collect().toSeq
    assert(pq === Seq((1L, 2L, 50.0), (2L, 1L, 200.0), (3L, 3L, 250.0)))
    val exact = Ann.bruteForceTopKL2(vecs, q, k = 3)
      .select("rank", "neighbor_id", "dist").as[(Long, Long, Double)].collect().toSeq
    assert(pq === exact)
  }

  test("cosine kernel: zero-norm vectors yield 0.0, not NaN") {
    graft.functions.VectorExprs.register(spark)
    val df = Seq(
      (Array(0f, 0f, 0f), Array(1f, 2f, 3f)),
      (Array(1f, 2f, 3f), Array(0f, 0f, 0f)),
      (Array(1f, 0f, 0f), Array(1f, 0f, 0f))).toDF("a", "b")
    val cs = df.select(call_function("graft_cosine", col("a"), col("b")).as("c"))
      .collect().map(_.getDouble(0))
    assert(cs(0) == 0.0 && cs(1) == 0.0 && cs(2) == 1.0)
    assert(!cs.exists(_.isNaN))
  }

  test("multimodal: REAL image decode (JDK codecs), aHash near-dup pairs") {
    import java.awt.image.BufferedImage
    def png(w: Int, h: Int, f: (Int, Int) => Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, f(x, y))
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    val gradient = png(32, 24, (x, _) => { val v = x * 8 % 256; (v << 16) | (v << 8) | v })
    // same gradient with one noisy pixel — a true near-dup
    val noisy = png(32, 24, (x, y) =>
      if (x == 5 && y == 5) 0xffffff
      else { val v = x * 8 % 256; (v << 16) | (v << 8) | v })
    val inverted = png(32, 24, (x, _) => { val v = 255 - x * 8 % 256; (v << 16) | (v << 8) | v })
    val rows = Seq(
      (1L, gradient), (2L, noisy), (3L, inverted),
      (4L, "not an image at all".getBytes("UTF-8")))
    val media = Multimodal.asMedia(rows.toDF("id", "bytes"), "id", "bytes", "image")

    val feats = Multimodal.imageFeatures(spark, media).collect()
      .map(f => f.media_id -> f).toMap
    assert(feats(1L).decoded && feats(1L).width == 32 && feats(1L).height == 24)
    assert(feats(1L).features.length == 64 && feats(1L).mean_luma > 0)
    assert(!feats(4L).decoded, "corrupt payload must flag, not throw")
    // determinism: identical payload -> identical signature
    val again = Multimodal.imageFeatures(spark, media).collect()
      .map(f => f.media_id -> f.ahash).toMap
    assert(again(1L) == feats(1L).ahash)
    // the near-identical image is within 3 bits; the inverted one is far
    assert(java.lang.Long.bitCount(feats(1L).ahash ^ feats(2L).ahash) <= 3)
    assert(java.lang.Long.bitCount(feats(1L).ahash ^ feats(3L).ahash) > 10)

    // the m01 path: decoded aHash signatures through the banded Hamming join
    val sigs = Multimodal.imageFeatures(spark, media).filter(col("decoded"))
      .select(col("media_id").as("id"), col("ahash").as("sig"))
    val pairs = Dedup.simhashPairs(sigs, 3)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("multimodal: synthPng round-trips through the real decoder to its analytic aHash") {
    // the m01 gate contract: aHash(decode(synthPng(id))) == imagePattern(id)
    val ids = (0L until 40L) ++ Seq(196L, 197L, 198L, 199L)
    val rows = ids.map(id => (id, Multimodal.synthPng(id)))
    val media = Multimodal.asMedia(rows.toDF("id", "b"), "id", "b", "image")
    val got = Multimodal.imageFeatures(spark, media).collect()
      .map(f => f.media_id -> f).toMap
    ids.foreach { id =>
      assert(got(id).decoded && got(id).width == 64 && got(id).height == 64)
      assert(got(id).ahash == Multimodal.imagePattern(id), s"id=$id")
    }
    // family structure: variants 0/1/2 pairwise within 3 bits, variant 3 far
    for (f <- Seq(0L, 3L, 49L)) {
      val Seq(p0, p1, p2, p3) = (0 to 3).map(v => Multimodal.imagePattern(f * 4 + v))
      assert(java.lang.Long.bitCount(p0 ^ p1) == 1)
      assert(java.lang.Long.bitCount(p0 ^ p2) == 2)
      assert(java.lang.Long.bitCount(p1 ^ p2) == 1)
      assert(java.lang.Long.bitCount(p0 ^ p3) == 8)
      assert(java.lang.Long.bitCount(p2 ^ p3) == 6)
    }
  }

  test("multimodal: Y4M container parse is real — header, planes, malformed rejection") {
    // the synthesized stream is a genuine YUV4MPEG2 container
    val p = Multimodal.synthY4M(5L) // 15 frames, 8x8 4:2:0
    val (info, offs) = Multimodal.parseY4m(p)
    assert(info.width == 8 && info.height == 8 && info.colorspace == "420jpeg")
    assert(info.ySize == 64 && info.frameSize == 64 + 32)
    assert(offs.length == 15)
    // luma mean per sampled frame matches the analytic arithmetic — and
    // would NOT if the slicer read chroma bytes (distinct arithmetic)
    val media = Multimodal.asMedia(
      Seq((5L, p)).toDF("id", "v"), "id", "v", "video")
    val frames = Multimodal.y4mFrameSamples(spark, media, stride = 3)
      .collect().sortBy(_.frame_idx)
    assert(frames.map(_.frame_idx).toSeq === Seq(0L, 3L, 6L, 9L, 12L))
    frames.foreach { fr =>
      val exp = (0 until 64).map(i => (5L * 31 + fr.frame_idx * 7 + i) % 256)
        .sum.toDouble / 64
      assert(math.abs(fr.mean_byte - exp) < 1e-12, s"frame ${fr.frame_idx}")
    }
    // mono colorspace: no chroma planes
    val mono = ("YUV4MPEG2 W4 H2 F25:1 Cmono\n".getBytes("US-ASCII") ++
      "FRAME\n".getBytes("US-ASCII") ++ Array.tabulate(8)(i => i.toByte))
    val (mInfo, mOffs) = Multimodal.parseY4m(mono)
    assert(mInfo.frameSize == 8 && mOffs.length == 1)
    // malformed containers fail LOUDLY, not with fabricated stats
    intercept[IllegalArgumentException] {
      Multimodal.parseY4m("NOTAVIDEO W8 H8\nFRAME\n".getBytes("US-ASCII"))
    }
    intercept[IllegalArgumentException] {
      Multimodal.parseY4m(p.dropRight(10)) // truncated final frame
    }
  }

  test("multimodal: MJPEG-in-AVI parse + JDK JPEG decode are real") {
    val p = Multimodal.synthAviMjpeg(7L) // 6 + 7%5 = 8 frames
    val (info, frames) = Multimodal.parseAviMjpeg(p)
    assert(info.width == 16 && info.height == 16 && info.totalFrames == 8)
    assert(frames.length == 8)
    // every frame chunk is a genuine JPEG the JDK can decode
    frames.foreach { f =>
      assert(f.take(2).map(_ & 0xff).toSeq === Seq(0xff, 0xd8), "JPEG SOI")
    }
    val media = Multimodal.asMedia(
      Seq((7L, p)).toDF("id", "v"), "id", "v", "video")
    val out = Multimodal.aviFrameSamples(spark, media, stride = 2)
      .collect().sortBy(_.frame_idx)
    assert(out.map(_.frame_idx).toSeq === Seq(0L, 2L, 4L, 6L))
    out.foreach { fr =>
      val exp = ((7L * 37 + fr.frame_idx * 11) % 236 + 10).toDouble
      assert(math.abs(fr.mean_byte - exp) < 1e-12,
        s"frame ${fr.frame_idx}: got ${fr.mean_byte}, want $exp")
    }
    // malformed containers fail LOUDLY
    intercept[IllegalArgumentException] {
      Multimodal.parseAviMjpeg("RIFX1234AVI ".getBytes("US-ASCII"))
    }
    intercept[IllegalArgumentException] {
      Multimodal.parseAviMjpeg(p.dropRight(40)) // truncated movi chunk
    }
    // header/movi frame-count mismatch is a loud error, not a guess
    val bad = p.clone()
    // dwTotalFrames lives 16 bytes into avih; avih body starts at
    // RIFF(12) + LIST hdr(12) + avih hdr(8) = 32
    bad(32 + 16) = 99.toByte
    intercept[IllegalArgumentException] { Multimodal.parseAviMjpeg(bad) }
  }

  test("multimodal: codec registry round-trips a fake compressed payload through the seam") {
    // a fake "compressed" codec: magic 'RLE1' then per frame a 3-byte
    // record (value, countHi, countLo) expanding to `count` copies of
    // `value` — decode genuinely transforms bytes, so the test proves
    // the seam carries a REAL decoder's output, not a pass-through
    def encode(frames: Seq[(Int, Int)]): Array[Byte] =
      "RLE1".getBytes("US-ASCII") ++ frames.flatMap { case (v, n) =>
        Seq(v.toByte, ((n >> 8) & 0xff).toByte, (n & 0xff).toByte) }
    Multimodal.VideoDecoders.register("fake-rle", new Multimodal.VideoDecoder {
      def decodeFrames(p: Array[Byte]): IndexedSeq[Array[Byte]] = {
        require(p.length >= 4 && new String(p, 0, 4, "US-ASCII") == "RLE1",
          "bad magic")
        require((p.length - 4) % 3 == 0, "torn frame record")
        (4 until p.length by 3).map { o =>
          val n = ((p(o + 1) & 0xff) << 8) | (p(o + 2) & 0xff)
          Array.fill(n)(p(o))
        }.toIndexedSeq
      }
    })
    assert(Multimodal.VideoDecoders.registered.contains("fake-rle"))
    // media 1: 5 frames of value 10·f; media 2: unknown codec; media 3:
    // corrupt payload (bad magic) under the registered codec
    val rows = Seq(
      (1L, encode((0 until 5).map(f => (10 * f, 100))), "fake-rle"),
      (2L, encode(Seq((1, 4))), "h264"),
      (3L, "JUNK???".getBytes("US-ASCII"), "fake-rle"))
    val media = rows.toDF("media_id", "payload", "codec")
      .select(col("media_id"), col("payload"),
        struct(lit("video").as("kind"), lit(0).as("width"),
          lit(0).as("height"), col("codec").as("codec")).as("meta"))
    val out = Multimodal.codecFrameSamples(spark, media, stride = 2)
      .collect().sortBy(r => (r.media_id, r.frame_idx))
    val m1 = out.filter(_.media_id == 1L)
    assert(m1.map(_.frame_idx).toSeq == Seq(0L, 2L, 4L)) // stride 2 of 5
    assert(m1.forall(f => f.decoded && f.n_frames == 5L &&
      f.mean_byte == 10.0 * f.frame_idx), s"decoded frames: ${m1.toSeq}")
    val m2 = out.filter(_.media_id == 2L)
    assert(m2.length == 1 && !m2.head.decoded, "unknown codec -> decoded=false row")
    val m3 = out.filter(_.media_id == 3L)
    assert(m3.length == 1 && !m3.head.decoded, "decoder reject -> decoded=false row")
    // the BUILT-IN containers ride the same seam: the synthetic MJPEG-AVI
    // through the registry must match aviFrameSamples' own statistics
    val avi = Seq((7L, Multimodal.synthAviMjpeg(7L), "mjpeg-avi"))
      .toDF("media_id", "payload", "codec")
      .select(col("media_id"), col("payload"),
        struct(lit("video").as("kind"), lit(0).as("width"),
          lit(0).as("height"), col("codec").as("codec")).as("meta"))
    val seam = Multimodal.codecFrameSamples(spark, avi, stride = 2)
      .collect().sortBy(_.frame_idx)
    assert(seam.map(_.frame_idx).toSeq == Seq(0L, 2L, 4L, 6L) &&
      seam.forall(_.decoded))
  }

  test("multimodal: AVI walk descends LIST rec groupings; multi-stream frame count is advisory") {
    // rebuild the synthetic AVI with its movi frames wrapped in `rec `
    // LISTs (the interleaved-file layout) — same chunk builders inline
    def chunk(cc: String, body: Array[Byte]): Array[Byte] = {
      val out = java.nio.ByteBuffer.allocate(8 + body.length + (body.length & 1))
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      out.put(cc.getBytes("US-ASCII")).putInt(body.length).put(body)
      out.array()
    }
    def list(tp: String, bodies: Seq[Array[Byte]]): Array[Byte] =
      chunk("LIST", bodies.foldLeft(tp.getBytes("US-ASCII"))(_ ++ _))
    val plain = Multimodal.synthAviMjpeg(7L)
    val (_, origFrames) = Multimodal.parseAviMjpeg(plain)
    // hdrl is the first LIST after the 12-byte RIFF prologue — reuse it
    def le32(b: Array[Byte], o: Int): Int =
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
        ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)
    val hdrlSz = 8 + le32(plain, 16)
    val hdrl = plain.slice(12, 12 + hdrlSz + (hdrlSz & 1))
    val movi = list("movi",
      origFrames.map(j => list("rec ", Seq(chunk("00dc", j)))))
    val form = "AVI ".getBytes("US-ASCII") ++ hdrl ++ movi
    val recWrapped = chunk("RIFF", form)
    val (info2, frames2) = Multimodal.parseAviMjpeg(recWrapped)
    assert(frames2.length == origFrames.length && info2.totalFrames == 8)
    assert(frames2.zip(origFrames).forall { case (a, b) => a.sameElements(b) })
    // multi-stream: dwStreams=2 + a header/movi count mismatch must NOT
    // throw (muxers count interleave units) — frames found still win
    val multi = recWrapped.clone()
    multi(32 + 16) = 99.toByte // dwTotalFrames := bogus
    multi(32 + 24) = 2.toByte  // dwStreams := 2
    val (info3, frames3) = Multimodal.parseAviMjpeg(multi)
    assert(info3.streams == 2 && frames3.length == origFrames.length)
    assert(info3.declaredMismatch, "the advisory mismatch must be IN-BAND")
    val (infoOk, _) = Multimodal.parseAviMjpeg(recWrapped)
    assert(!infoOk.declaredMismatch)
  }

  test("multimodal: uniform-gray JPEG round-trip is exact for all 256 values") {
    for (g <- 0 until 256) {
      val im = new java.awt.image.BufferedImage(16, 16,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until 16; x <- 0 until 16) im.getRaster.setSample(x, y, 0, g)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, "jpg", bos)
      val back = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bos.toByteArray))
      var s = 0L
      for (y <- 0 until 16; x <- 0 until 16) s += back.getRaster.getSample(x, y, 0)
      assert(s == 256L * g, s"gray $g decoded mean ${s / 256.0}")
    }
  }

  test("multimodal: REAL audio decode (JDK WAV reader), signal features") {
    import javax.sound.sampled._
    // synthesize a 0.5 s, 440 Hz sine at amplitude 0.5, 16-bit PCM mono 8 kHz
    val sr = 8000; val n = 4000; val amp = 0.5
    val pcm = new Array[Byte](n * 2)
    for (i <- 0 until n) {
      val v = (amp * math.sin(2 * math.Pi * 440 * i / sr) * 32767).toInt
      pcm(i * 2) = (v & 0xff).toByte
      pcm(i * 2 + 1) = ((v >> 8) & 0xff).toByte
    }
    val fmt = new AudioFormat(sr.toFloat, 16, 1, true, false)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong),
      AudioFileFormat.Type.WAVE, bos)
    val wav = bos.toByteArray

    val media = Multimodal.asMedia(
      Seq((1L, wav), (2L, Array[Byte](1, 2, 3))).toDF("id", "b"), "id", "b", "audio")
    val out = Multimodal.audioFeatures(spark, media).collect()
      .map(a => a.media_id -> a).toMap
    val a1 = out(1L)
    assert(a1.decoded && a1.sample_rate == sr && a1.channels == 1)
    assert(a1.n_frames == n && math.abs(a1.duration_s - 0.5) < 1e-9)
    // sine RMS = amp/sqrt(2); zcr = 2f/sr
    assert(math.abs(a1.rms - amp / math.sqrt(2)) < 0.01, s"rms=${a1.rms}")
    assert(math.abs(a1.peak - amp) < 0.01)
    assert(math.abs(a1.zcr - 2.0 * 440 / sr) < 0.01, s"zcr=${a1.zcr}")
    assert(!out(2L).decoded) // corrupt payload: resilient, not fatal
  }

  test("multimodal: 8-bit SIGNED audio (AIFF) decodes with the signed formula") {
    import javax.sound.sampled._
    // silence in 8-bit PCM_SIGNED is byte 0 — the old unsigned formula
    // decoded it as -1.0 (rms 1.0 for silence)
    val n = 800
    val pcm = new Array[Byte](n) // all zeros = silence
    val fmt = new AudioFormat(8000f, 8, 1, true, true)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong),
      AudioFileFormat.Type.AIFF, bos)
    val media = Multimodal.asMedia(
      Seq((1L, bos.toByteArray)).toDF("id", "b"), "id", "b", "audio")
    val a = Multimodal.audioFeatures(spark, media).collect().head
    assert(a.decoded && a.n_frames == n)
    assert(a.rms == 0.0 && a.peak == 0.0, s"silence decoded as rms=${a.rms} peak=${a.peak}")
  }

  test("winnowing: shared substring >= w+k-1 guarantees a shared fingerprint") {
    val k = 8; val w = 4
    val shared = "the quick brown fox jumps over the lazy dog near the riverbank"
    val r = new scala.util.Random(5)
    def noise(n: Int) = (1 to n).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    val df = Seq(
      (1L, noise(40) + " " + shared + " " + noise(40)),
      (2L, noise(60) + " " + shared + " " + noise(20)),
      (3L, noise(140)), // no shared substring
      (4L, "tiny")      // shorter than k
    ).toDF("id", "t")
    val fps = df.select(col("id"),
        TextOps.winnowingFingerprints(col("t"), k, w).as("fp"))
      .collect().map(row => row.getLong(0) -> row.getSeq[Long](1).toSet).toMap
    assert((fps(1) intersect fps(2)).nonEmpty) // the guarantee
    assert((fps(1) intersect fps(3)).isEmpty)  // noise shares nothing
    assert(fps(4).isEmpty)                     // sub-k text: no grams
    // determinism
    val again = df.select(TextOps.winnowingFingerprints(col("t"), k, w))
      .collect().map(_.getSeq[Long](0).toSet)
    assert(again(0) == fps(1))
    // fingerprint count is a small fraction of gram count (that's the
    // point of winnowing vs indexing every gram)
    assert(fps(1).size < (fps(1).size + fps(2).size) && fps(1).size <= 160 / 2)
  }

  test("text ops: shingle edge cases") {
    val df = Seq((1L, "a b"), (2L, "a b c"), (3L, "a b c d"), (4L, "")).toDF("id", "t")
    val sh = df.select(col("id"), TextOps.shingles(TextOps.tokens(col("t"))).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).length).toMap
    assert(sh == Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 0))
  }

  test("pii scrub redacts emails/phones/ips with typed tags; counts match") {
    val df = Seq(
      (1L, "mail bob.smith+x@corp.example.org now"),
      (2L, "call 555-123-4567 or 555.987.6543"),
      (3L, "host 192.168.0.1 and 10.0.0.255"),
      (4L, "clean text, nothing to redact"),
      (5L, "mixed a@b.co 1.2.3.4 111-222-3333")).toDF("id", "t")
    val out = df.select(col("id"),
        TextOps.piiScrub(col("t")).as("s"),
        TextOps.piiCount(col("t"), TextOps.EmailRe).as("ne"),
        TextOps.piiCount(col("t"), TextOps.PhoneRe).as("np"),
        TextOps.piiCount(col("t"), TextOps.Ipv4Re).as("ni"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out(1) == ("mail [EMAIL] now", 1L, 0L, 0L))
    assert(out(2) == ("call [PHONE] or [PHONE]", 0L, 2L, 0L))
    assert(out(3) == ("host [IP] and [IP]", 0L, 0L, 2L))
    assert(out(4) == ("clean text, nothing to redact", 0L, 0L, 0L))
    assert(out(5) == ("mixed [EMAIL] [IP] [PHONE]", 1L, 1L, 1L))
  }

  test("hash split: deterministic, partition-invariant, fractions near target") {
    val a = spark.range(0, 2000, 1, 1)
      .select(col("id"), Mixing.splitAssign(Mixing.hashUnit(col("id"), "graft-split")).as("sp"))
    val b = spark.range(0, 2000, 1, 16) // different partitioning, same split
      .select(col("id"), Mixing.splitAssign(Mixing.hashUnit(col("id"), "graft-split")).as("sp"))
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    val frac = a.groupBy("sp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1) / 2000.0).toMap
    assert(math.abs(frac("train") - 0.8) < 0.05, frac.toString)
    assert(math.abs(frac("val") - 0.1) < 0.03, frac.toString)
    assert(math.abs(frac("test") - 0.1) < 0.03, frac.toString)
    // salts decorrelate: split hash and mix hash disagree somewhere
    val corr = spark.range(0, 100)
      .select((Mixing.hashUnit(col("id"), "a") < 0.5) === (Mixing.hashUnit(col("id"), "b") < 0.5))
      .collect().count(_.getBoolean(0))
    assert(corr > 20 && corr < 80)
  }

  test("token packing: bins respect budget by start offset, cover all docs") {
    val df = Seq(
      ("s1", 1L, 300L), ("s1", 2L, 300L), ("s1", 3L, 300L), // cum 300,600,900
      ("s2", 4L, 1000L), ("s2", 5L, 10L)).toDF("source", "doc_id", "toks")
    val out = Mixing.packBins(df, "source", "doc_id", "toks", budget = 512)
      .select("doc_id", "bin").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc1 starts at 0 → bin0; doc2 starts at 300 → bin0; doc3 starts at 600 → bin1
    assert(out == Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 0L, 5L -> 1L))
  }

  test("contamination: planted eval text inside a train doc scores containment 1.0") {
    val probe = Seq((100L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "prefix words alpha beta gamma delta epsilon zeta suffix words here"),
      (2L, "completely different content with no overlap at all in any way")
    ).toDF("doc_id", "text")
    val out = Dedup.contaminationPairs(train, probe, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(out.length == 1)
    assert(out.head._1 == 1L && out.head._2 == 100L && out.head._3 == 1.0)
  }

  test("int8 quantization: near-lossless cosine, error bounded by scale/2") {
    graft.functions.VectorExprs.register(spark)
    val scale = call_function("graft_int8_scale", col("embedding"))
    val rows = embs.select(
        call_function("graft_int8_cosq", col("embedding"), scale).as("cos_q"),
        call_function("graft_int8_maeq", col("embedding"), scale).as("mae_q"),
        scale.as("s"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (cosQ, mae, s) = (r.getDouble(0), r.getDouble(1), r.getDouble(2))
      assert(cosQ > 0.999, s"quantization broke cosine: $cosQ")
      // each element's round-trip error is < scale/2 by construction
      assert(mae >= 0.0 && mae <= s / 2.0 + 1e-12, s"mae $mae vs scale $s")
    }
  }

  test("connected components: chain, triangle, disjoint pair, convergence") {
    val s2 = spark
    import s2.implicits._
    // chain 1-2-3-4 (diameter 3), triangle 10-11-12 (+ redundant edge),
    // disjoint pair 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L)).toDF("i", "j")
    val cc = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(cc(_) == 1L))
    assert(Seq(10L, 11L, 12L).forall(cc(_) == 10L))
    assert(Seq(20L, 21L).forall(cc(_) == 20L))
    assert(cc.size == 9)
    // a round budget below what the chain needs (the star loop takes 4
    // rounds on this 8-node chain: 3 that rewire, 1 that confirms) leaves
    // the far end unlabeled-minimal: the bound is honored, not silently
    // exceeded. maxIter is a LOOP contract — the local union-find path is
    // exact by construction — so the loop is forced for this part.
    withDistributedCC {
      val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L),
        (4L, 5L), (5L, 6L), (6L, 7L), (7L, 8L)).toDF("i", "j")
      intercept[IllegalArgumentException](
        Dedup.connectedComponents(chain, maxIter = 2))
      val partial = Dedup.connectedComponents(chain, maxIter = 2,
        allowPartial = true).as[(Long, Long)].collect().toMap
      assert(partial(8L) > 1L)
      assert(Dedup.connectedComponents(chain, maxIter = 4)
        .as[(Long, Long)].collect().forall(_._2 == 1L))
      intercept[IllegalArgumentException](
        Dedup.connectedComponents(chain, maxIter = 3))
    }
  }

  // ---- Ann.bitextMargin --------------------------------------------------

  test("bitextMargin: every A row pairs once; an isolated twin outranks a uniform-field match") {
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val r = 1.0 / math.sqrt(2)
    // a1/b1: isolated near-identical twin. a2: sits in a uniform field of
    // four equidistant b's — its margin must be strictly below the twin's
    // (the hub/field normalization raw cosine lacks).
    val a = Seq((1L, v(1, 0, 0, 0)), (2L, v(0, 1, 0, 0)))
      .toDF("vec_id", "embedding")
    val b = Seq(
      (10L, v(0.995, 0.0999, 0, 0)),
      (20L, v(0, r, r, 0)), (21L, v(0, r, -r, 0)),
      (22L, v(0, r, 0, r)), (23L, v(0, r, 0, -r)))
      .toDF("vec_id", "embedding")
    val out = Ann.bitextMargin(a, b, k = 4, acceptMargin = 1.2)
      .orderBy("a_id")
      .select("a_id", "b_id", "margin", "accepted")
      .as[(Long, Long, Double, Boolean)].collect()
    assert(out.length === 2) // exactly one row per A vector
    val Array((a1, b1, m1, acc1), (a2, b2, m2, _)) = out
    assert(a1 === 1L && b1 === 10L, "twin must be a1's best match")
    assert(a2 === 2L && Set(20L, 21L, 22L, 23L).contains(b2))
    assert(m1 > m2, f"twin margin $m1%.3f should beat field margin $m2%.3f")
    assert(acc1, "the isolated twin must clear the accept threshold")
  }

  test("bitextMarginAuto: byte-identical to the exact form below the swap; routes to the indexed form above it") {
    val rnd = new scala.util.Random(17)
    def v(): Array[Float] = Array.fill(8)(rnd.nextGaussian().toFloat)
    val a = (1L to 40L).map(i => (i, v())).toDF("vec_id", "embedding")
    val b = (100L to 160L).map(i => (i, v())).toDF("vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("a_id", "b_id", "cos_r", "margin", "accepted")
        .as[(Long, Long, Double, Double, Boolean)].collect().sortBy(_._1).toSeq
    // below the bound (40*61 << 1e9): the auto path IS the exact path
    assert(rows(Ann.bitextMarginAuto(a, b, dims = 8)) ===
      rows(Ann.bitextMargin(a, b)))
    // above the bound (forced): the auto path IS the indexed path at the
    // auto-derived planes (max(4, ...) = 4 here) — the swap changes the
    // candidate generator, never the margin arithmetic
    assert(rows(Ann.bitextMarginAuto(a, b, dims = 8, maxExactProducts = 1)) ===
      rows(Ann.bitextMarginIndexed(a, b, dims = 8, planes = 4, tables = 16)))
    // and countsOverride skips the counts while forcing the same regime
    assert(rows(Ann.bitextMarginAuto(a, b, dims = 8, maxExactProducts = 1,
      countsOverride = Some((40L, 61L)))) ===
      rows(Ann.bitextMarginIndexed(a, b, dims = 8, planes = 4, tables = 16)))
  }

  test("hardNegatives: planted geometry picks the right positive, negative, and violation bit") {
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    // anchor 1 (label 0): positive twin 10 (cos~1), same-label decoy 11
    // (cos~0.7); nearest negative 20 (label 1, cos~0.9) -> cos_neg >
    // cos_pos - 0.1 is FALSE (0.9 < 1.0-0.1 fails... 0.9 > 0.9 false) ->
    // use cos 0.95 so the violation bit is exercised TRUE; anchor 2 has a
    // clearly separated negative -> violation FALSE.
    val r2 = 1.0 / math.sqrt(2)
    val emb = Seq(
      (1L, 0L, v(1, 0, 0, 0)),          // anchor A
      (10L, 0L, v(0.999, 0.0447, 0, 0)), // A's positive twin
      (11L, 0L, v(r2, r2, 0, 0)),        // same-label decoy (cos ~.707)
      (20L, 1L, v(0.95, 0.3122, 0, 0)),  // hard negative, cos ~0.95
      (2L, 0L, v(0, 0, 1, 0)),           // anchor B
      (12L, 0L, v(0, 0.0447, 0.999, 0)), // B's positive twin
      (21L, 1L, v(0, 1, 0, 0)))          // B's negatives are orthogonal
                                          // (cos 0 tie -> lower id 20 wins)
      .toDF("vec_id", "label", "embedding")
    val out = Ann.hardNegatives(emb, emb.filter(col("vec_id") <= 2),
        "label", margin = 0.1)
      .orderBy("anchor_id")
      .select("anchor_id", "pos_id", "neg_id", "violation")
      .as[(Long, Long, Long, Boolean)].collect()
    assert(out.length === 2)
    assert(out(0) === ((1L, 10L, 20L, true)),
      "anchor 1: twin positive, near negative inside the margin")
    assert(out(1) === ((2L, 12L, 20L, false)),
      "anchor 2: twin positive, orthogonal negative (tie -> lowest id) " +
        "clears the margin")
  }

  // ---- Ann.embeddingDrift -------------------------------------------------

  test("embeddingDrift: identical snapshots are a fixed point; a planted shift is measured exactly") {
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    // label 0: snapshot B == snapshot A (drift-free fixed point).
    // label 1: every B vector = A vector + 0.6 on dim 1 → the centroid
    // moves by exactly 0.6, so mean_shift_l2 == 0.6 and the centroid
    // cosine is cos(A_mean, A_mean + (0, 0.6, 0, 0)), computable by hand.
    val emb = Seq(
      (0L, 0, v(1, 0, 0, 0)), (1L, 0, v(1, 0, 0, 0)),   // lbl 0: A, B equal
      (2L, 0, v(0, 0, 1, 0)), (3L, 0, v(0, 0, 1, 0)),
      (10L, 1, v(1, 0, 0, 0)), (11L, 1, v(1, 0.6, 0, 0)), // lbl 1 planted
      (12L, 1, v(1, 0, 0, 0)), (13L, 1, v(1, 0.6, 0, 0)))
      .toDF("vec_id", "label", "embedding")
    val out = Ann.embeddingDrift(emb, "label", col("vec_id") % 2)
      .orderBy("label")
      .as[(Int, Long, Long, Double, Double, Double)].collect()
    assert(out.length === 2)
    val (l0, na0, nb0, cos0, shift0, ratio0) = out(0)
    assert(l0 === 0 && na0 === 2L && nb0 === 2L)
    assert(cos0 === 1.0 && shift0 === 0.0 && ratio0 === 1.0,
      "identical snapshots must report zero drift")
    val (l1, na1, nb1, cos1, shift1, ratio1) = out(1)
    assert(l1 === 1 && na1 === 2L && nb1 === 2L)
    assert(shift1 === 0.6, "centroid moved by exactly the planted delta")
    // cos((1,0), (1,0.6)) = 1/sqrt(1.36)
    assert(math.abs(cos1 - 1.0 / math.sqrt(1.36)) < 1e-6)
    // norms: A all 1.0; B = sqrt(1.36) → ratio sqrt(1.36)
    assert(math.abs(ratio1 - math.sqrt(1.36)) < 1e-6)
  }

  test("embeddingDrift: a group present in only one snapshot is dropped, not fabricated") {
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val emb = Seq(
      (0L, 0, v(1, 0)), (1L, 0, v(1, 0)),
      (2L, 7, v(0, 1))) // label 7 has only an even (snapshot-A) member
      .toDF("vec_id", "label", "embedding")
    val out = Ann.embeddingDrift(emb, "label", col("vec_id") % 2).collect()
    assert(out.map(_.getInt(0)).toSet === Set(0))
  }

  // ---- Ann.whiten ---------------------------------------------------------

  test("whiten: post-whiten covariance is the identity; deterministic; ragged dims rejected") {
    // correlated, shifted 4-dim cloud from a deterministic recurrence —
    // x1 is 90% x0 and x2 has a planted mean, so an apply pass that
    // forgot centering or used the wrong triangle index cannot pass.
    // The fourth signal keeps the cloud FULL RANK (an exactly dependent
    // dim is a null covariance direction, which eps-whitening correctly
    // leaves at ~zero variance — not what this test probes).
    val rows = (0 until 200).map { i =>
      val a = math.sin(i * 1.7)
      val b = math.sin(i * 2.3 + 1)
      val c = math.sin(i * 3.1 + 2)
      val e = math.sin(i * 4.3 + 3)
      (i.toLong, Array((a).toFloat, (0.9 * a + 0.1 * b).toFloat,
        (c + 2.0).toFloat, (0.5 * a - 0.5 * c + 0.4 * e).toFloat))
    }
    val emb = rows.toDF("vec_id", "embedding")
    val w1 = Ann.whiten(emb).orderBy("vec_id").as[(Long, Seq[Double])].collect()
    val w2 = Ann.whiten(emb).orderBy("vec_id").as[(Long, Seq[Double])].collect()
    assert(w1.map(_._2.toList).toList === w2.map(_._2.toList).toList,
      "whitening must be deterministic")
    val n = w1.length
    val d = w1.head._2.length
    assert(d === 4)
    val mean = Array.tabulate(d)(k => w1.map(_._2(k)).sum / n)
    for (k <- 0 until d)
      assert(math.abs(mean(k)) < 1e-3, s"whitened mean of dim $k: ${mean(k)}")
    for (i <- 0 until d; j <- i until d) {
      val cov = w1.map(r => (r._2(i) - mean(i)) * (r._2(j) - mean(j))).sum / n
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(cov - want) < 5e-3, s"cov($i,$j) = $cov, want $want")
    }
    val ragged = Seq((0L, Array(1f, 2f)), (1L, Array(1f, 2f, 3f)))
      .toDF("vec_id", "embedding")
    val err = intercept[IllegalArgumentException](Ann.whiten(ragged))
    assert(err.getMessage.contains("ragged"))
  }

  // ---- Ann.semanticContamination -----------------------------------------

  test("semanticContamination: twin flags, orthogonal clears, ties pick lowest eval id") {
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    // eval 100/101 are IDENTICAL (tie), eval 102 is a different direction
    val eval = Seq(
      (100L, v(1, 0, 0, 0)), (101L, v(1, 0, 0, 0)), (102L, v(0, 0, 1, 0)))
      .toDF("vec_id", "embedding")
    val train = Seq(
      (1L, v(2, 0, 0, 0)),  // scaled twin of eval 100/101 -> cos 1.0
      (2L, v(0, 1, 0, 0)),  // orthogonal to every eval vector
      (3L, v(0, 0, 0.6, 0.8))) // cos 0.6 to eval 102
      .toDF("vec_id", "embedding")
    val out = Ann.semanticContamination(train, eval, threshold = 0.5)
      .orderBy("train_id")
      .select("train_id", "max_sim", "eval_id", "contaminated")
      .as[(Long, Double, Long, Boolean)].collect()
    assert(out.length === 3) // one account per train row, flagged or not
    val Array(t1, t2, t3) = out
    assert(t1 === ((1L, 1.0, 100L, true)), "tie must break to lowest eval id")
    assert(t2._4 === false && t2._2 === 0.0)
    assert(t3 === ((3L, 0.6, 102L, true)))
  }

  // ---- Ann.randomProjection ----------------------------------------------

  test("randomProjection: one-hot vectors keep norm exactly; output is k-dim and deterministic") {
    val d = 8
    // a one-hot vector hits ONE column of the sign matrix: every
    // coordinate is ±x/√k, so ‖y‖ = ‖x‖ exactly — a JL identity that
    // holds for ANY sign assignment, making it hash-independent
    val oneHots = (0 until d).map { j =>
      (j.toLong, Array.tabulate(d)(i => if (i == j) 2.0f else 0.0f))
    }.toDF("vec_id", "embedding")
    val out = Ann.randomProjection(oneHots, dims = d, k = 4)
      .select("vec_id", "y", "norm_ratio")
      .as[(Long, Seq[Double], Double)].collect()
    assert(out.length === d)
    out.foreach { case (_, y, ratio) =>
      assert(y.length === 4)
      y.foreach(v => assert(math.abs(math.abs(v) - 1.0) < 1e-12)) // 2/√4
      assert(math.abs(ratio - 1.0) < 1e-12)
    }
    // deterministic: a second run produces identical sketches
    val again = Ann.randomProjection(oneHots, dims = d, k = 4)
      .select("vec_id", "y", "norm_ratio")
      .as[(Long, Seq[Double], Double)].collect()
    assert(out.map(_._2).toSeq === again.map(_._2).toSeq)
  }
}
