package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark 4's `private[sql]` Column↔Expression converters —
  * the standard pattern for extension libraries (Sedona, Delta, etc. place
  * one such shim in the org.apache.spark.sql package). Nothing else of
  * Spark's internals is touched. */
object graftbridge {
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The schema `spark.read.parquet` infers from the parquet data file
    * `file`, read from its footer here on the driver through Spark's own
    * converter (Spark's inference reads the same footer in a one-task job). */
  def parquetFooterSchema(spark: SparkSession,
                          file: org.apache.hadoop.fs.FileStatus): types.StructType = {
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
      ParquetFooterReader, ParquetToSparkSchemaConverter}
    val state = spark.asInstanceOf[classic.SparkSession].sessionState
    val footer = ParquetFooterReader.readFooter(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(file, state.newHadoopConf()),
      org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(state.conf))
  }

  /** Register a SQL function on an ALREADY-BUILT session (the
    * `withExtensions`/`spark.sql.extensions` path covers session build
    * time; this covers notebooks/tests where the session pre-exists). */
  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .registerFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo("graft", name),
        builder)
}
