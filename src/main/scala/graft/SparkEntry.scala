package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 is a named entry in
  * [[queries]], and its DuckDB oracle twin is in [[oracleSql]] (the
  * driver hash-compares both at sf0.01). Queries are assembled from
  * the per-category modules under graft.queries.
  */
object SparkEntry {

  private def modules: Seq[Q] =
    RelationalQueries.all ++ ScalarQueries.all ++ ScalarQueries2.all ++
      TextQueries.all ++ VectorQueries.all ++
      K8sQueries.all ++ StreamingQueries.all ++
      ExtensionQueries.all ++ ScaleQueries.all ++
      TemporalQueries.all ++ ClusterQueries.all ++ AnalyticQueries.all ++
      PipelineQueries.all ++ BehaviorQueries.all ++ TypedQueries.all ++
      EvalQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("agg_pricing")(spark, "/root/testdata/sf0.001")

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] =
    modules.map(q => q.name -> q.oracle).toMap
}
