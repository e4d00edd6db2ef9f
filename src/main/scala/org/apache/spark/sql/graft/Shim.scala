package org.apache.spark.sql.graft

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.hadoop.{Footer, ParquetFileReader, ParquetInputFormat}
import org.apache.parquet.io.LocalInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.datasources.{DataSourceUtils, OutputWriter}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetOptions, ParquetReadSupport, ParquetToSparkSchemaConverter, ParquetWriteSupport}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Minimal bridge to the `private[sql]` Column↔Expression and
  * LogicalPlan↔DataFrame converters — the supported way for an extension
  * library to lift a custom Catalyst `Expression` / `LogicalPlan` into the
  * public API without a function registry, and to hand a connector
  * Spark's own parquet reader and writer. (This package placement is the
  * standard Spark-extension idiom.) */
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

  /** The Spark schema of the local parquet `file`, read from its footer
    * on the driver by the rule Spark's schema inference applies to a
    * file (`ParquetFileFormat.readSchemaFromFooter`) — without the job
    * a schema-less `spark.read.parquet` runs for it. */
  def parquetFileSchema(spark: SparkSession, file: String): StructType = {
    val r = ParquetFileReader.open(
      new LocalInputFile(java.nio.file.Paths.get(file)))
    try ParquetFileFormat.readSchemaFromFooter(
      new Footer(new Path(file), r.getFooter),
      new ParquetToSparkSchemaConverter(
        spark.asInstanceOf[classic.SparkSession].sessionState.conf))
    finally r.close()
  }

  /** Spark's own parquet file writer for `dataSchema`, set up on the
    * driver the way a file-source write sets it up
    * (`ParquetFileFormat.prepareWrite` over the session's hadoop conf and
    * parquet options). The job conf is broadcast: inside the task
    * binary, its ~100 KB would be deserialized again by every task. The
    * returned function, called in a task, creates the file at the given
    * path. A type parquet cannot hold fails here, before any file
    * exists. */
  def parquetWriters(spark: SparkSession, dataSchema: StructType)
      : String => OutputWriter = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val format = new ParquetFileFormat
    DataSourceUtils.verifySchema(format, dataSchema)
    val job = Job.getInstance(session.sessionState.newHadoopConf())
    val factory = format.prepareWrite(session, job, Map.empty, dataSchema)
    val conf = SerializableConfiguration.broadcast(session.sparkContext,
      job.getConfiguration)
    path => factory.newInstance(path, dataSchema,
      new TaskAttemptContextImpl(conf.value.value, new TaskAttemptID()))
  }
}
