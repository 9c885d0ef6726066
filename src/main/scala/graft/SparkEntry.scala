package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.GraftQuery

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Every module contributes GraftQuery entries (Spark plan + oracle SQL). */
  lazy val allQueries: Seq[GraftQuery] =
    operators.Relational.queries ++
      operators.Indexes.queries ++
      operators.Scalars.queries ++
      operators.Collections.queries ++
      operators.Workloads.queries ++
      operators.TextAnalysis.queries ++
      operators.Search.queries ++
      operators.Temporal.queries ++
      operators.Stats.queries ++
      operators.Dedup.queries ++
      operators.Curation.queries ++
      operators.PipelineFull.queries ++
      operators.Pii.queries ++
      operators.Changelog.queries ++
      operators.Analytics.queries ++
      operators.Layout.queries ++
      operators.Similarity.queries ++
      operators.Multimodal.queries ++
      sources.SourceSink.queries ++
      streaming.StreamAgg.queries ++
      streaming.LateData.queries ++
      streaming.StreamDedup.queries ++
      streaming.StreamUpsert.queries ++
      streaming.Sessionize.queries ++
      streaming.StreamScore.queries ++
      streaming.StreamCurate.queries ++
      functions.TypedAgg.queries ++
      functions.GraftFunctions.queries ++
      lang.LangQueries.queries

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    operators.Relational.flagship(spark)

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    allQueries.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted entries → rows-only check. */
  lazy val oracleSql: Map[String, String] =
    allQueries.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
