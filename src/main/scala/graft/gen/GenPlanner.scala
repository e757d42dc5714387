package graft.gen

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ddl.TableDef
import graft.genrule.{GenRules, TableStats}

/** Multi-table generation planning: ref-dependency topological scheduling
  * (G5) and multi-document genconf runs (G12).
  *
  * The reference generates tables in "waves" of zero-unresolved-ref
  * tables, erroring on cycles ("deadlock"), and shares one ≤limit-value
  * reservoir across every ref to the same table.column
  * (reference: cmd/gendata.go:290-359, src/generator/ref.go:40-137).
  *
  * Spark design: the wave order is a driver-side loop over tiny metadata;
  * each referenced column's reservoir is sampled FROM THE GENERATED PLAN
  * (deterministic, so sampling re-runs the pure range projection — no
  * materialization needed at this size; at very large dim cardinality the
  * sample is still one narrow-column job). Reservoir values are spread by
  * hash order rather than first-k so low-id bias never correlates with
  * the referencing table's draws. Fact tables then embed the reservoir as
  * a broadcast-style literal array — the exact analog of the reference's
  * in-memory shared slice, and the scale-correct choice: the reservoir is
  * capped (default 1000), so no join or shuffle is ever needed.
  */
object GenPlanner {

  val DefaultRefLimit = 1000

  /** "table.column" → limit, for every ref rule in `table`'s columns. */
  private def refsOf(env: GenRules.Env, table: TableDef): Map[String, Int] =
    env.tables.get(table.name).map(_.columns).getOrElse(Map.empty).flatMap {
      case (_, rule) =>
        val gen = GenRules.asRule(rule.getOrElse("gen", GenRules.empty))
        gen.get("ref").map(t => t.toString.trim ->
          gen.get("limit").map(GenRules.toInt).filter(_ > 0).getOrElse(DefaultRefLimit))
    }

  /** Generate every table in ref-dependency order. Returns name → frame.
    * Tables referenced but not present error out; cycles error out
    * (mirroring the reference's missing-table and deadlock checks). */
  def generateAll(spark: SparkSession, tables: Seq[TableDef], env: GenRules.Env,
                  seed: Long, defaultRows: Long = 1000L,
                  stats: Map[String, TableStats] = Map.empty): Map[String, DataFrame] = {
    val byName = tables.map(t => t.name -> t).toMap
    val refs = tables.map(t => t.name -> refsOf(env, t)).toMap
    val missing = refs.values.flatMap(_.keys).map(_.split('.').head).toSet -- byName.keySet
    require(missing.isEmpty, s"ref tables not found: ${missing.mkString(", ")}")

    var done = Map.empty[String, DataFrame]
    var reservoirs = Map.empty[String, Seq[Any]]
    var remaining = tables
    while (remaining.nonEmpty) {
      val (ready, blocked) = remaining.partition(t =>
        refs(t.name).keys.forall(tc => done.contains(tc.split('.').head)))
      require(ready.nonEmpty,
        s"ref dependency deadlock among tables: ${blocked.map(_.name).mkString(", ")}")
      ready.foreach { t =>
        // sample any reservoirs this table needs (shared across refs)
        refs(t.name).foreach { case (tc, limit) =>
          if (!reservoirs.contains(tc)) {
            val Array(st, sc) = tc.split('.')
            reservoirs += tc -> sampleReservoir(done(st), sc, limit)
          }
        }
        val rows = TableGen.rowCount(t, env, defaultRows)
        done += t.name -> TableGen.frame(spark, t, rows, seed, env,
          stats.get(t.name), reservoirs)
      }
      remaining = blocked
    }
    done
  }

  /** ≤limit values of `column`, spread deterministically by hash order
    * (the reference's reservoir is a uniform sample; hash order gives the
    * same spread without random state). */
  private def sampleReservoir(df: DataFrame, column: String, limit: Int): Seq[Any] =
    df.select(col(column)).filter(col(column).isNotNull)
      .orderBy(xxhash64(col(column), lit("refsample")))
      .limit(limit)
      .collect().map(_.get(0)).toSeq

  /** G12: one generated dataset per `---`-separated genconf document
    * (≤128, the reference's cap), each with its own rule env; document i
    * uses seed+i so datasets differ but stay reproducible. */
  def generateDatasets(spark: SparkSession, tables: Seq[TableDef], confYaml: String,
                       seed: Long, defaultRows: Long = 1000L): Seq[Map[String, DataFrame]] =
    datasetEnvs(confYaml).zipWithIndex.map { case (env, i) =>
      generateAll(spark, tables, env, seed + i, defaultRows)
    }

  /** The rule env of each dataset [[generateDatasets]] makes, in order. */
  def datasetEnvs(confYaml: String): Seq[GenRules.Env] = {
    val docs = GenRules.parseYamlDocs(confYaml)
    (if (docs.isEmpty) Seq(GenRules.empty) else docs) // no conf = defaults
      .map(GenRules.buildEnv(_))
  }
}
