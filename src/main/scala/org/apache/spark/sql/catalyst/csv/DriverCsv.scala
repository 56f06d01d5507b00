package org.apache.spark.sql.catalyst.csv

import org.apache.spark.sql.{classic, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.types.StructType

/** The `private[sql]` pieces `graft.io.Csv` reads small uploads on the
  * driver with, so the driver path and Spark's own CSV scan share every
  * line of row parsing and raise the same errors. */
object DriverCsv {
  def parseIterator(lines: Iterator[String], parser: UnivocityParser,
      headerChecker: CSVHeaderChecker, schema: StructType): Iterator[InternalRow] =
    UnivocityParser.parseIterator(lines, parser, headerChecker, schema)

  /** `rows` as a local relation's frame, as `createDataFrame` builds it
    * but without a round trip through external rows. */
  def localFrame(spark: SparkSession, schema: StructType,
      rows: Seq[InternalRow]): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** What a file read raises when it finds no file to infer from. */
  def noSchemaError(format: String): Throwable =
    QueryCompilationErrors.dataSchemaNotSpecifiedError(format)
}
