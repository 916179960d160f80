package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.{Column, SparkSession}

/** Bridge to `private[sql]` / `private[spark]` pieces of Spark 4.
  *
  * Spark 4 unified `Column` around ColumnNode and made the
  * Expression⇄Column converters `private[sql]`; living under
  * `org.apache.spark.sql` is the standard extension-library pattern for
  * exposing custom Catalyst expressions as user-facing Columns.
  */
object Shims {
  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from an InternalRow RDD without the public-API
    * CatalystTypeConverters per-row conversion — the rows are already in
    * catalyst form (UTF8String etc.), so ingest skips a full copy+convert
    * pass.
    */
  def internalCreateDataFrame(
      spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  def registerFunction(
      spark: SparkSession,
      name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** The Spark schema of a Parquet footer, converted as Spark's own schema
    * inference converts it: the session's Parquet settings (binary as
    * string, INT96 as timestamp, ...) and Spark's row metadata key when the
    * writer left one.
    */
  def parquetFooterSchema(
      spark: SparkSession,
      footer: org.apache.parquet.hadoop.Footer): org.apache.spark.sql.types.StructType =
    ParquetFileFormat.readSchemaFromFooter(footer, new ParquetToSparkSchemaConverter(sqlConf(spark)))

  /** The session's SQL settings, typed (`sessionState` is not on the API
    * session).
    */
  def sqlConf(spark: SparkSession): org.apache.spark.sql.internal.SQLConf =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.conf

  /** The file an input split of a `newAPIHadoopFile` RDD reads, known on the
    * driver (`NewHadoopPartition` is `private[spark]`).
    */
  def hadoopSplitFile(p: org.apache.spark.Partition): String =
    p.asInstanceOf[org.apache.spark.rdd.NewHadoopPartition].serializableHadoopSplit.value
      .asInstanceOf[org.apache.hadoop.mapreduce.lib.input.FileSplit].getPath.toString
}
