package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{AnalyticsQueries, FunctionQueries, LlmQueries, LlmQueries2, LlmQueries3, RelationalQueries, RelationalQueries2, RelationalQueries3, RelationalQueries4, TpchQueries, WindowQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** The local session builder shared by every entry point (Bench, Verify,
    * Profile, PlanDump and the test suites): `local[cpus]` with one shuffle
    * partition per core, UTC session time, TIMESTAMP(NANOS) parquet read as
    * longs (see `sources.Tables.load`) and the UI off. Callers add their
    * own confs and call `getOrCreate()`. */
  def localSession(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.queries("q05_multi_join")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    RelationalQueries.queries ++ RelationalQueries2.queries ++
      RelationalQueries3.queries ++ RelationalQueries4.queries ++
      FunctionQueries.queries ++ AnalyticsQueries.queries ++
      WindowQueries.queries ++ LlmQueries.queries ++ LlmQueries2.queries ++
      LlmQueries3.queries ++ TpchQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    RelationalQueries.oracles ++ RelationalQueries2.oracles ++
      RelationalQueries3.oracles ++ RelationalQueries4.oracles ++
      FunctionQueries.oracles ++ AnalyticsQueries.oracles ++
      WindowQueries.oracles ++ LlmQueries.oracles ++ LlmQueries2.oracles ++
      LlmQueries3.oracles ++ TpchQueries.oracles
}
