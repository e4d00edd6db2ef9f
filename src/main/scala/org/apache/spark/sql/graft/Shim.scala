package org.apache.spark.sql.graft

import org.apache.parquet.hadoop.ParquetInputFormat
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetReadSupport, ParquetWriteSupport}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Minimal bridge to the `private[sql]` Column↔Expression and
  * LogicalPlan↔DataFrame converters — the supported way for an extension
  * library to lift a custom Catalyst `Expression` / `LogicalPlan` into the
  * public API without a function registry, and to hand a connector
  * Spark's own parquet reader. (This package placement is the standard
  * Spark-extension idiom.) */
object Shim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
  /** `st` with every field, element and value nullable — the schema a
    * file scan surfaces for a user-specified schema. */
  def asNullable(st: StructType): StructType = st.asNullable
  /** Returns once every listener has seen every event posted so far. */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** The session planner's FULL strategy list (builtin + extension-injected
    * + experimental) — for idempotence checks before registering one. */
  def plannerStrategies(spark: SparkSession): Seq[Any] =
    spark.asInstanceOf[classic.SparkSession].sessionState.planner.strategies

  /** Spark's V2 parquet reader factory over `readSchema` (the data
    * columns), with `partitionSchema` columns appended from each
    * `PartitionedFile`'s partition values — the hadoop conf keys set the
    * way Spark's own `ParquetScan` sets them, broadcast once. */
  def parquetReaders(spark: SparkSession, readSchema: StructType,
      partitionSchema: StructType, filters: Array[Filter])
      : ParquetPartitionReaderFactory = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val sql = session.sessionState.conf
    val hc = session.sessionState.newHadoopConf()
    hc.set(ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[ParquetReadSupport].getName)
    hc.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, readSchema.json)
    hc.set(ParquetWriteSupport.SPARK_ROW_SCHEMA, readSchema.json)
    hc.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sql.sessionLocalTimeZone)
    hc.setBoolean(SQLConf.NESTED_SCHEMA_PRUNING_ENABLED.key,
      sql.nestedSchemaPruningEnabled)
    hc.setBoolean(SQLConf.CASE_SENSITIVE.key, sql.caseSensitiveAnalysis)
    hc.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key,
      sql.isParquetBinaryAsString)
    hc.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key,
      sql.isParquetINT96AsTimestamp)
    hc.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
      sql.parquetInferTimestampNTZEnabled)
    hc.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key,
      sql.legacyParquetNanosAsLong)
    hc.setBoolean(SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION.key,
      sql.parquetReaderRespectUnknownTypeAnnotation)
    ParquetPartitionReaderFactory(sql,
      SerializableConfiguration.broadcast(session.sparkContext, hc),
      readSchema, readSchema, partitionSchema, filters, None,
      new ParquetOptions(Map.empty[String, String], sql))
  }
}
