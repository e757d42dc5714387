package graft.sqlx

import graft.SparkSpec

/** Translator fuzz property (the AnonPropertySpec analog for
  * `DorisSql.translate`, generalizing q89/q90's cross-validation): 200
  * seeded statements composing the translator's rewrite surface —
  * QUALIFY, `LIMIT m,n`, MINUS, `COUNT(DISTINCT) OVER`, `DATE_ADD …
  * INTERVAL`, `date_format` %-patterns, `group_concat`, set-op chains,
  * CTE wrapping, doubled-quote literals, literals shaped like the
  * rewrites' own inputs, a comment holding a paren —
  * are generated as PAIRS from one AST: the Doris-dialect text (through
  * `translate`) and an
  * independently-stated Spark-native equivalent (manual subquery wrap
  * for QUALIFY, `LIMIT n OFFSET m`, EXCEPT, the q88 dense_rank
  * identity for the distinct window, day arithmetic in `date_add`,
  * year/month concatenation and a sorted `collect_list` — machinery the
  * rewrite does NOT use). Both run on the same data and must agree row-for-row, so a
  * mistranslation of any composition is unrepresentable. (DuckDB
  * agreement on the same constructs stays covered by the q89/q90
  * oracle rows — this spec covers the combinatorial space.)
  */
class TranslatorPropertySpec extends SparkSpec {

  private lazy val view: Unit = {
    import spark.implicits._
    (0 until 150).map(i => (Seq("a", "b", "c")(i % 3), i % 50, i % 7))
      .toDF("g", "v", "d").createOrReplaceTempView("fuzz_t")
  }

  /** One generated statement pair: (doris-dialect, spark-native). */
  private def gen(rnd: scala.util.Random): (String, String) = {
    def branch(): (String, String) = {
      val lit =
        if (rnd.nextBoolean()) "'plain'"
        else Seq("'it''s (x'", "'a''MINUS''b'", "'don''t)'", "'date_add(d, INTERVAL 1 DAY)'",
          "'[broadcast] x'", "'group_concat(y)'")(rnd.nextInt(6))
      val (winD, winN) = rnd.nextInt(4) match {
        case 0 => // partition-total distinct: rewrite vs dense_rank identity
          ("COUNT(DISTINCT d) OVER (PARTITION BY g)",
           "MAX(dense_rank() OVER (PARTITION BY g ORDER BY d)) OVER (PARTITION BY g)")
        case 3 => // the same, with a paren inside a comment in the argument
          ("COUNT(DISTINCT d /* ) */) OVER (PARTITION BY g)",
           "MAX(dense_rank() OVER (PARTITION BY g ORDER BY d)) OVER (PARTITION BY g)")
        case 1 =>
          val w = "row_number() OVER (PARTITION BY g ORDER BY v, d)"
          (w, w)
        case _ =>
          val w = "CAST(SUM(v) OVER (PARTITION BY g ORDER BY v, d " +
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)"
          (w, w)
      }
      // a string-typed column, so set-op branches stay union-compatible
      val day = "date_add(DATE'2024-01-01', v * 20)"
      val (xD, xN) = rnd.nextInt(4) match {
        case 0 =>
          val n = 1 + rnd.nextInt(9)
          (s"CAST(DATE_ADD(date_add(DATE'2024-01-01', v), INTERVAL $n DAY) AS STRING)",
           s"CAST(date_add(DATE'2024-01-01', v + $n) AS STRING)")
        case 1 =>
          val n = 1 + rnd.nextInt(9)
          (s"CAST(date_sub(date_add(DATE'2024-01-01', v), INTERVAL $n DAY) AS STRING)",
           s"CAST(date_add(DATE'2024-01-01', v - $n) AS STRING)")
        case 2 =>
          (s"date_format($day, '%Y-%m')",
           s"concat(CAST(year($day) AS STRING), '-', lpad(CAST(month($day) AS STRING), 2, '0'))")
        case _ =>
          val k = 2 + rnd.nextInt(8)
          (s"(SELECT group_concat(v ORDER BY v SEPARATOR '|') FROM fuzz_t WHERE v < $k)",
           "(SELECT array_join(transform(array_sort(collect_list(v)), e -> CAST(e AS STRING)), '|') " +
             s"FROM fuzz_t WHERE v < $k)")
      }
      val where = rnd.nextInt(3) match {
        case 0 => ""
        case 1 => s" WHERE v % ${2 + rnd.nextInt(4)} != 0"
        case _ => s" WHERE v < ${20 + rnd.nextInt(25)}"
      }
      val selD = s"SELECT g, v, $lit AS s, $winD AS w, $xD AS x FROM fuzz_t$where"
      val selN = s"SELECT g, v, $lit AS s, $winN AS w, $xN AS x FROM fuzz_t$where"
      if (rnd.nextBoolean()) {
        val q = rnd.nextInt(3) match {
          case 0 => "w = 1"
          case 1 => s"w <= ${1 + rnd.nextInt(5)}"
          case _ => "w % 2 = 0"
        }
        // doris: QUALIFY on the aliased window column; native: manual wrap
        (s"$selD QUALIFY $q",
         s"SELECT g, v, s, w, x FROM ($selN) __q WHERE $q")
      } else (selD, selN)
    }
    val (b1d, b1n) = branch()
    val (core0d, core0n) =
      if (rnd.nextBoolean()) {
        val (b2d, b2n) = branch()
        val op = Seq("MINUS", "UNION ALL", "INTERSECT")(rnd.nextInt(3))
        val opN = if (op == "MINUS") "EXCEPT" else op
        (s"$b1d $op $b2d", s"$b1n $opN $b2n")
      } else (b1d, b1n)
    // sometimes wrap in a CTE or derived table (rewrites must recurse)
    val (cored, coren) = rnd.nextInt(3) match {
      case 0 => (s"WITH c AS ($core0d) SELECT * FROM c",
                 s"WITH c AS ($core0n) SELECT * FROM c")
      case 1 => (s"SELECT * FROM ($core0d) AS dt",
                 s"SELECT * FROM ($core0n) AS dt")
      case _ => (core0d, core0n)
    }
    if (rnd.nextBoolean()) {
      val m = rnd.nextInt(10); val n = 1 + rnd.nextInt(30)
      // LIMIT needs a total order to be comparable at all
      (s"$cored ORDER BY g, v, s, w LIMIT $m, $n",
       s"$coren ORDER BY g, v, s, w LIMIT $n OFFSET $m")
    } else (cored, coren)
  }

  test("200 seeded compositions: translate(doris) ≡ independent Spark-native form") {
    view
    val failures = Seq.newBuilder[String]
    for (seed <- 0 until 200) {
      val rnd = new scala.util.Random(seed)
      val (doris, native) = gen(rnd)
      val translated = DorisSql.translate(doris)
      try {
        val got = spark.sql(translated).collect()
          .map(_.toSeq.map(String.valueOf).mkString("")).sorted.toSeq
        val want = spark.sql(native).collect()
          .map(_.toSeq.map(String.valueOf).mkString("")).sorted.toSeq
        if (got != want)
          failures += s"seed $seed: ${got.length} vs ${want.length} rows\n  doris: $doris\n  translated: $translated"
      } catch {
        case e: Throwable =>
          failures += s"seed $seed threw ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}\n  doris: $doris\n  translated: $translated"
      }
    }
    val bad = failures.result()
    assert(bad.isEmpty, s"${bad.length} mistranslations:\n${bad.take(5).mkString("\n")}")
  }

  test("translate is idempotent on its own output (200 seeds)") {
    val offenders = (0 until 200).flatMap { seed =>
      val (doris, _) = gen(new scala.util.Random(seed))
      val once = DorisSql.translate(doris)
      val twice = DorisSql.translate(once)
      if (once != twice) Some(s"seed $seed:\n  once:  $once\n  twice: $twice") else None
    }
    assert(offenders.isEmpty, offenders.take(3).mkString("\n"))
  }
}
