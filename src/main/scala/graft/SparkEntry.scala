package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Queries are contributed by the packs under `graft.queries`; each pack
  * pairs Spark implementations with DuckDB oracle SQL over the same
  * parquet tables (or VALUES reconstructions for constructed relations).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_join_stars")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.Relational.queries ++
      graft.queries.Core.queries ++
      graft.queries.TrainingData.queries ++
      graft.queries.Tokenizer.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    graft.queries.Relational.oracle ++
      graft.queries.Core.oracle ++
      graft.queries.TrainingData.oracle ++
      graft.queries.Tokenizer.oracle
}
