package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{EventQueries, FinancialQueries, JobQueries, ModelQueries, MultimodalQueries, Q, RelationalQueries, TextQueries, VectorQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Query registry: every implemented SURVEY.md §2 operator (plus the
  * training-data-pipeline extensions — dedup, similarity search, text
  * analysis) has one entry here, with a DuckDB oracle where the semantics are
  * ANSI-SQL-expressible.
  */
object SparkEntry {

  val registry: Seq[Q] =
    RelationalQueries.all ++ EventQueries.all ++ TextQueries.all ++
      VectorQueries.all ++ FinancialQueries.all ++ ModelQueries.all ++
      JobQueries.all ++ MultimodalQueries.all

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. A 4-way
    * snowflake join + aggregate — the shape of the reference's
    * staging_to_app rollups (reference: jobs/staging_to_app.py:115-116). */
  def entry(spark: SparkSession): DataFrame =
    queries("q05_multi_join")(spark, "/root/testdata/sf0.001")

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on the
    * same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(o => q.name -> o)).toMap

  /** Headline subset for the sf0.1 bench. */
  def benchNames: Seq[String] =
    registry.filter(_.bench).map(_.name)
}
