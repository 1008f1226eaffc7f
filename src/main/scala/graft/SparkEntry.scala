package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in [[queries]] exercises one operator from SURVEY.md §2 (or a
  * beyond-reference data-pipeline operator) over the driver's synthetic
  * tables; [[oracleSql]] holds the equivalent DuckDB SQL for the hash
  * compare at sf0.01.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    ParityQueries.q01Agg(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    ParityQueries.queries ++ ParityQueries2.queries ++
      ParityQueries3.queries ++ ParityQueries4.queries ++
      PipelineQueries.queries ++ MediaQueries.queries ++ WebQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    ParityQueries.oracle ++ ParityQueries2.oracle ++
      ParityQueries3.oracle ++ ParityQueries4.oracle ++
      PipelineQueries.oracle ++ MediaQueries.oracle ++ WebQueries.oracle
}
