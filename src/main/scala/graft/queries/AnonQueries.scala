package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryModule
import graft.anon.Anonymizer
import graft.workload.ReplayCodec

/** Anonymizer (N1–N4) as a driver-checkable query: the hash method is
  * stateless and deterministic — exactly what lets it run distributed
  * with no shared dictionary — so the DuckDB oracle recomputes every
  * alias independently (sha256 prefix + reserved-id and min-length
  * rules). The tokenizer rewrite and minihash dictionary are covered by
  * the golden + property suite (AnonymizerSpec).
  */
object AnonQueries extends QueryModule {

  private val q0 = "/root/repo/src/test/resources/fixture/q0.sql"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a01_anonymize_ids" -> ((s, _) => {
      // Column-expression hash (no UDF): THE pattern for anonymizing a
      // billions-row identifier column — codegen'd sha2/lower/substring.
      // one decode: both identifier columns of each record, as rows
      val ids = ReplayCodec.decode(s, q0)
        .select(explode(array(col("db"), col("user"))).as("id"))
        .distinct()
      ids.select(col("id"), Anonymizer.hashAliasCol(col("id")).as("alias"))
        .orderBy("id")
    })
  )

  val oracles: Map[String, String] = Map(
    "a01_anonymize_ids" -> s"""
      WITH ids AS (
        SELECT DISTINCT json_extract_string(meta, '$$.db') AS id FROM (
          SELECT regexp_extract(line, '^/\\*dodo(\\{.*?\\})\\*/', 1) AS meta
          FROM (SELECT unnest(string_split(content, chr(10))) AS line
                FROM read_text('$q0'))
          WHERE line LIKE '/*dodo{%')
        UNION
        SELECT DISTINCT json_extract_string(meta, '$$.user') AS id FROM (
          SELECT regexp_extract(line, '^/\\*dodo(\\{.*?\\})\\*/', 1) AS meta
          FROM (SELECT unnest(string_split(content, chr(10))) AS line
                FROM read_text('$q0'))
          WHERE line LIKE '/*dodo{%'))
      SELECT id,
             CASE WHEN lower(id) IN ('mysql', 'global', 'internal',
                                     '__internal_schema', 'information_schema') THEN id
                  WHEN length(id) < 3 THEN id
                  ELSE substr(sha256(lower(id)), 1, 16) END AS alias
      FROM ids ORDER BY id"""
  )
}
