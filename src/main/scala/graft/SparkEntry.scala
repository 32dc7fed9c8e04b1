package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps operator names (SURVEY.md §2 inventory + extensions) to
  * DataFrame builders; `oracleSql` carries the DuckDB-equivalent SQL the
  * driver uses as a correctness oracle at sf0.01. Column names are aliased
  * identically on both sides (the driver's compare sorts columns by name).
  * Query definitions live in graft.queries.* / graft.operators.*, grouped by
  * SURVEY.md §2 family; this object is only the aggregation point.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    RelationalQueries.queries ++ ParityQueries.queries ++
      PipelineQueries.queries ++ ExtendedQueries.queries ++
      FormatQueries.queries ++ AuditQueries.queries ++
      graft.streaming.StreamingQueries.queries

  /** Timing view for Bench: identical to `queries` except that contract
    * queries (whose full form runs its own verification baselines) are
    * overridden by a plain-output form of the same operator invocation.
    * Correctness always runs the contract form via `queries` (Verify);
    * this view exists so bench numbers track operators, not QA harness.
    */
  def benchQueries: Map[String, (SparkSession, String) => DataFrame] =
    queries ++ PipelineQueries.timed ++
      graft.streaming.StreamingQueries.timed ++ FormatQueries.timed

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    RelationalQueries.oracles ++ ParityQueries.oracles ++
      PipelineQueries.oracles ++ ExtendedQueries.oracles ++
      FormatQueries.oracles ++ AuditQueries.oracles ++
      graft.streaming.StreamingQueries.oracles
}
