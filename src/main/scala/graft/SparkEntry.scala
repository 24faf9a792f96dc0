package graft

import graft.io.LocalFs
import graft.queries.{AnalyticsQueries, CorpusQueries, ExtQueries, RefQueries, StreamingQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The star join (M6): facts ⋈ broadcast dims, revenue per region/nation.
    */
  def entry(spark: SparkSession): DataFrame = {
    LocalFs.install(spark)
    RefQueries.all("q13_star_join")(spark, "/root/testdata/sf0.001")
  }

  /** One entry per implemented operator from SURVEY.md §2 plus the
    * north-star extension operators (dedup / similarity / text /
    * multimodal). Each call installs graft's local filesystem
    * ([[graft.io.LocalFs]]) on the caller's session first.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    (RefQueries.all ++ ExtQueries.all ++ AnalyticsQueries.all ++
      StreamingQueries.all ++ CorpusQueries.all).map { case (name, q) =>
      name -> { (s: SparkSession, dir: String) => LocalFs.install(s); q(s, dir) }
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    RefQueries.oracle ++ ExtQueries.oracle ++ AnalyticsQueries.oracle ++
      StreamingQueries.oracle ++ CorpusQueries.oracle
}
