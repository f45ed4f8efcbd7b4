package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ExpressionUtils, SparkSession => ClassicSession}
import org.apache.spark.sql.types.StructType

/** Wraps a Catalyst expression as a `Column`, and back. Spark keeps this
  * conversion package-private; graft needs it for expressions that
  * carry a driver-side value no SQL function argument can hold
  * (`graft.functions.CentroidSet`).
  */
object ExpressionColumn {
  def apply(e: Expression): Column = ExpressionUtils.column(e)

  /** The Catalyst expression of `c`. */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** A DataFrame over an RDD of Catalyst rows of `schema`, read as an
  * existing-RDD scan: building it starts no job. Spark keeps
  * `internalCreateDataFrame` package-private; graft needs it for an
  * operator that computes its rows with an RDD kernel
  * (`graft.dedup.SemDeDup`).
  */
object InternalFrame {
  def apply(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[ClassicSession].internalCreateDataFrame(rows, schema)
}
