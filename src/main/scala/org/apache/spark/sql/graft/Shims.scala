package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Expression, SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

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
    *
    * `orderedBy` names columns each partition of `rdd` is already sorted
    * by, ascending, in that order. The frame's scan declares that ordering,
    * so the planner drops a `sortWithinPartitions` on a prefix of it
    * (`RemoveRedundantSorts`). The caller vouches for it: a wrong ordering
    * gives wrongly ordered output, not an error.
    */
  def internalCreateDataFrame(
      spark: SparkSession,
      rdd: RDD[InternalRow],
      schema: StructType,
      orderedBy: Seq[String] = Nil): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val output = DataTypeUtils.toAttributes(schema)
    val ordering = orderedBy.map { name =>
      SortOrder(output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"orderedBy: no column $name in $schema")), Ascending)
    }
    classic.Dataset.ofRows(session,
      LogicalRDD(output, rdd, UnknownPartitioning(0), ordering, false)(session))
  }

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
