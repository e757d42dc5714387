package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates every QueryModule's registry; each entry is one operator
  * from SURVEY.md §2 (or a beyond-reference pipeline operator), and each
  * oracle is equivalent DuckDB SQL over the same parquet tables.
  */
object SparkEntry {

  private val modules: Seq[QueryModule] = Seq(
    graft.queries.RelationalQueries,
    graft.queries.GendataQueries,
    graft.queries.WorkloadQueries,
    graft.queries.DiffStatsQueries,
    graft.queries.PipelineQueries,
    graft.queries.AnonQueries,
    graft.queries.CreateQueries,
    graft.queries.SqlSurfaceQueries,
    graft.queries.IoQueries,
    graft.queries.CurationQueries
  )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_agg_pricing")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.flatMap(_.queries).toMap

  /** The queries whose name starts with one of `prefixes` (all of them
    * when none is given), in name order: the filter of Verify and Bench.
    * No query name is a prefix of another, so a full name selects
    * exactly its query. */
  def select(prefixes: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] =
    queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => prefixes.isEmpty || prefixes.exists(n.startsWith) }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.flatMap(_.oracles).toMap
}
