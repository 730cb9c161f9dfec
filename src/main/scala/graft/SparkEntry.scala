package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{AnalyticsOps, CoreRelational, CorpusFilterOps, CorpusOps, LlmQueries, Scalars, ScaleOps, StatsOps, Windows}
import graft.functions.GraftFunctions
import graft.sources.{Baldr, Formats}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the engine's declared operator inventory (one entry per
  * SURVEY.md §2 row); `oracleSql` holds the DuckDB-equivalent SQL the
  * driver hash-compares against at sf0.01.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    CoreRelational.aggSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Each entry
    * first installs the graft functions its session lacks, so a session
    * built without [[graft.core.GraftSession.tune]] works too; on one
    * built with it, that is 41 lookups and no write. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    (CoreRelational.queries ++ Windows.queries ++ Scalars.queries ++
      LlmQueries.queries ++ Formats.queries ++ Baldr.queries ++ CorpusOps.queries ++
      ScaleOps.queries ++ AnalyticsOps.queries ++ StatsOps.queries ++
      CorpusFilterOps.queries).map { case (name, query) =>
      name -> { (spark: SparkSession, sfDir: String) =>
        GraftFunctions.register(spark)
        query(spark, sfDir)
      }
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys (approx sketches, non-SQL ops)
    * get the driver's weaker rows-only check. */
  def oracleSql: Map[String, String] =
    CoreRelational.oracles ++ Windows.oracles ++ Scalars.oracles ++
      LlmQueries.oracles ++ Formats.oracles ++ Baldr.oracles ++ CorpusOps.oracles ++
      ScaleOps.oracles ++ AnalyticsOps.oracles ++ StatsOps.oracles ++
      CorpusFilterOps.oracles
}
