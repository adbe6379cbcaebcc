package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract: the queries Verify dumps and Bench times, and the
  * DuckDB oracle SQL Verify writes next to them (SURVEY.md §5). */
object SparkEntry {

  /** All implemented inventory rows from SURVEY.md §2. */
  def allOps: Seq[Op] =
    operators.Relational.ops ++ operators.Relational2.ops ++
      operators.MapReduceDocs.ops ++
      operators.TextAnalysis.ops ++ operators.Dedup.ops ++
      operators.Similarity.ops ++ operators.Multimodal.ops ++
      operators.Sampling.ops ++ operators.Bpe.ops ++ operators.Curate.ops ++
      operators.LangModel.ops ++ operators.Graph.ops ++
      operators.Profile.ops ++
      operators.Search.ops ++ operators.QualityClassifier.ops ++
      operators.EmbedPca.ops ++ operators.Dsir.ops ++
      operators.Splits.ops ++ operators.Analytics.ops ++
      operators.PostTrain.ops ++ operators.RlEval.ops ++
      operators.RankEval.ops ++ operators.AgentTrace.ops ++
      operators.DataOps.ops ++ operators.Html.ops ++
      operators.Crawl.ops ++
      operators.Cluster.ops ++ operators.Unigram.ops ++
      operators.Overlap.ops ++ operators.Calibrate.ops

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    allOps.head.query(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allOps.map(op => op.name -> op.query).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    allOps.flatMap(op => op.oracle.map(op.name -> _)).toMap
}
