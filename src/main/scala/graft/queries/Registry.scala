package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered engine query: the Spark implementation plus the
  * DuckDB oracle that must hash-match it (every query has one).
  * Column names are aligned between both on purpose — the driver's
  * compare sorts columns by name before hashing (builder contract).
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: String)

object Registry {
  lazy val all: Seq[Q] =
    ParityQueries.all ++ SourceQueries.all ++ AnalyticsQueries.all ++
      TextQueries.all ++ CurationQueries.all ++ SimilarityQueries.all ++
      PipelineQueries.all ++ RelationalQueries.all
}
