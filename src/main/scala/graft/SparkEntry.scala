package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{Advanced, Clustering, Converter, Curation, CurationPipeline, Dedup, Evaluation, Multimodal, Relational, Retrieval, Sampling, Services, Similarity, Text, Windows}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Queries are declared once as [[GraftQuery]] values in `graft.queries.*`
  * and aggregated here.
  */
object SparkEntry {

  def registry: Seq[GraftQuery] =
    Relational.all ++ Windows.all ++ Advanced.all ++ Text.all ++ Dedup.all ++
      Curation.all ++ Similarity.all ++ Clustering.all ++ Sampling.all ++
      Converter.all ++ Multimodal.all ++ Services.all ++ Evaluation.all ++
      CurationPipeline.all ++ Retrieval.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * the 3-way join + aggregation (exercises scan, shuffle join, broadcast,
    * grouped agg in one plan). */
  def entry(spark: SparkSession): DataFrame =
    registry.find(_.name == "q03_segment_revenue").get
      .fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted entries get a rows-only check. */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(sql =>
      q.name -> sql.replaceAll("\\s+", " ").trim)).toMap

  /** Names of the queries Bench times each round. */
  def headlines: Seq[String] = registry.filter(_.headline).map(_.name)

  /** Registry queries named on a command line, in argument order. An
    * argument matches a full query name, or a `qNN` id up to the `_`
    * (`q12` selects `q12_monthly_orders`, not q120–q129). An argument
    * that matches nothing throws. */
  def select(args: Seq[String]): Seq[GraftQuery] = {
    val matches = args.map(a => a -> registry.filter(q =>
      q.name == a || q.name.takeWhile(_ != '_') == a))
    val unknown = matches.collect { case (a, Seq()) => a }
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(
        s"no registered query matches: ${unknown.mkString(", ")}")
    matches.flatMap(_._2).distinct
  }
}
