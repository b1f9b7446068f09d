package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{LlmQueries, LlmQueries2, LlmQueries3, LlmQueries4, LlmQueries5, LlmQueries6, LlmQueries7, LlmQueries8, LlmQueries9, LlmQueries10, LlmQueries11, LlmQueries12, LlmQueries13, LlmQueries14, LlmQueries15, LlmQueries16, LlmQueries17, LlmQueries18, LlmQueries19, LlmQueries20, LlmQueries21, RefQueries, RelQueries, RelQueries2, RelQueries3, RelQueries4, RelQueries5, RelQueries6, RelQueries7, RelQueries8, RelQueries9, RelQueries10, RelQueries11, RelQueries12, RelQueries13, RelQueries14, RelQueries15, RelQueries16, RelQueries17, RelQueries18, RelQueries19, RelQueries20, ScaleQueries, SqlQueries, StreamQueries, StreamQueries2}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps operator names (SURVEY §2) to runnable plans over a
  * testdata dir; `oracleSql` carries each query's DuckDB twin for the
  * driver's hash-compare. Column names/aliases are kept identical between
  * the Spark plan and the SQL (driver sorts columns by name pre-hash).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RefQueries.csvPipeline(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    RefQueries.defs ++ RelQueries.defs ++ RelQueries2.defs ++
      RelQueries3.defs ++ RelQueries4.defs ++ RelQueries5.defs ++
      RelQueries6.defs ++ RelQueries7.defs ++ RelQueries8.defs ++
      RelQueries9.defs ++ RelQueries10.defs ++ RelQueries11.defs ++ RelQueries12.defs ++
      RelQueries13.defs ++ RelQueries14.defs ++ RelQueries15.defs ++ RelQueries16.defs ++ RelQueries17.defs ++ RelQueries18.defs ++ RelQueries19.defs ++ RelQueries20.defs ++
      LlmQueries.defs ++ LlmQueries2.defs ++ LlmQueries3.defs ++
      LlmQueries4.defs ++ LlmQueries5.defs ++ LlmQueries6.defs ++
      LlmQueries7.defs ++ LlmQueries8.defs ++ LlmQueries9.defs ++ LlmQueries10.defs ++ LlmQueries11.defs ++ LlmQueries12.defs ++ LlmQueries13.defs ++ LlmQueries14.defs ++ LlmQueries15.defs ++ LlmQueries16.defs ++ LlmQueries17.defs ++ LlmQueries18.defs ++ LlmQueries19.defs ++ LlmQueries20.defs ++ LlmQueries21.defs ++
      ScaleQueries.defs ++ SqlQueries.defs ++ StreamQueries.defs ++ StreamQueries2.defs

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Every query has one: PlanGovernanceSpec
    * fails on a query without an oracle or an oracle without a query. */
  def oracleSql: Map[String, String] =
    RefQueries.oracles ++ RelQueries.oracles ++ RelQueries2.oracles ++
      RelQueries3.oracles ++ RelQueries4.oracles ++ RelQueries5.oracles ++
      RelQueries6.oracles ++ RelQueries7.oracles ++ RelQueries8.oracles ++
      RelQueries9.oracles ++ RelQueries10.oracles ++ RelQueries11.oracles ++ RelQueries12.oracles ++
      RelQueries13.oracles ++ RelQueries14.oracles ++ RelQueries15.oracles ++ RelQueries16.oracles ++ RelQueries17.oracles ++ RelQueries18.oracles ++ RelQueries19.oracles ++ RelQueries20.oracles ++
      LlmQueries.oracles ++ LlmQueries2.oracles ++ LlmQueries3.oracles ++
      LlmQueries4.oracles ++ LlmQueries5.oracles ++ LlmQueries6.oracles ++
      LlmQueries7.oracles ++ LlmQueries8.oracles ++ LlmQueries9.oracles ++ LlmQueries10.oracles ++ LlmQueries11.oracles ++ LlmQueries12.oracles ++ LlmQueries13.oracles ++ LlmQueries14.oracles ++ LlmQueries15.oracles ++ LlmQueries16.oracles ++ LlmQueries17.oracles ++ LlmQueries18.oracles ++ LlmQueries19.oracles ++ LlmQueries20.oracles ++ LlmQueries21.oracles ++
      ScaleQueries.oracles ++ SqlQueries.oracles ++ StreamQueries.oracles ++ StreamQueries2.oracles
}
