package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 (plus the training-data
  * pipeline extensions) registers here: a Spark DataFrame query keyed by
  * name, and — where ANSI-SQL-expressible — a DuckDB oracle over the same
  * parquet tables. Column names/aliases match between the two exactly
  * (the driver sorts columns by name before hashing).
  */
object SparkEntry {

  private def all: Map[String, Q] =
    ProxyQueries.queries ++
      MetricsRollup.queries ++
      DlqQueries.queries ++
      GelfQueries.queries ++
      Analytics.queries ++
      TemporalJoins.queries ++
      TextAnalysis.queries ++
      Dedup.queries ++
      Similarity.queries ++
      Curation.queries ++
      Multimodal.queries ++
      graft.sources.ParsedRequests.queries ++
      graft.sources.BucketedTables.queries ++
      graft.sources.OrcRoundTrip.queries ++
      graft.sources.IvfLayout.queries ++
      graft.sources.ClusterLayout.queries ++
      graft.sources.IncrementalRollup.queries ++
      graft.sources.CommitLogReads.queries ++
      graft.sources.OptimizeCommit.queries ++
      graft.sources.CommitSchemaEvolution.queries ++
      graft.sources.DsvWrite.queries ++
      graft.sources.DmlCommit.queries ++
      graft.sources.PartitionedCommit.queries ++
      graft.sources.DedupIndex.queries ++
      graft.sources.BloomPointLookup.queries

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's core operation: keyed concat/count aggregation over the
    * synthesized insert-request stream (SURVEY.md §2.3 O-27/O-28). */
  def entry(spark: SparkSession): DataFrame =
    ProxyQueries.keyedConcat(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map { case (k, q) => k -> q.fn }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    all.collect { case (k, Q(_, Some(sql))) => k -> sql }
}
