package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ClassicConversions, ExpressionUtils}
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Bridge into `private[sql]` surface of Spark 4's classic API:
  * Column <-> Catalyst Expression conversion and the session function
  * registry. Lives under org.apache.spark.sql.* solely for access;
  * the rest of graft never touches Spark internals directly.
  */
object Shims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def functionRegistry(spark: SparkSession): FunctionRegistry =
    ClassicConversions.castToImpl(spark).sessionState.functionRegistry
  /** The error an ANSI `cast(d as bigint)` raises for a double out of range. */
  def castOverflow(d: Double): ArithmeticException =
    QueryExecutionErrors.castingCauseOverflowError(d, DoubleType, LongType)
  /** The error an ANSI `element_at(arr, index)` raises past the array's end. */
  def elementAtOutOfBounds(index: Int, numElements: Int): ArrayIndexOutOfBoundsException =
    QueryExecutionErrors.invalidElementAtIndexError(index, numElements, null)
}
