package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Access shim: `ExpressionUtils`, `AbstractDataType` and
  * `Dataset.withSequenceColumn` are `private[sql]`, so the (tiny) bridge
  * lives under the sql package —
  * the conventional extension point for libraries adding native Catalyst
  * expressions. Everything else in this project stays in `graft.*`. */
object GraftShim {
  type AbstractDataType = org.apache.spark.sql.types.AbstractDataType

  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Runtime function registration (the live-session counterpart of
    * SparkSessionExtensions.injectFunction). Classic sessions only — a
    * Spark Connect session has no local FunctionRegistry; fail with a
    * clear message instead of a ClassCastException. */
  def registerFunction(
    spark: org.apache.spark.sql.SparkSession,
    ident: org.apache.spark.sql.catalyst.FunctionIdentifier,
    info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
    builder: Seq[Expression] => Expression): Unit = spark match {
    case classic: org.apache.spark.sql.classic.SparkSession =>
      classic.sessionState.functionRegistry.registerFunction(ident, info, builder)
    case other => throw new UnsupportedOperationException(
      s"runtime function registration needs a classic SparkSession " +
        s"(got ${other.getClass.getName}); for Spark Connect, set " +
        "spark.sql.extensions=graft.functions.GraftExtensions on the server")
  }

  /** `df` plus a non-null 0-based long column `name` numbering its rows
    * in partition order (Spark's AttachDistributedSequence: one pass
    * counts each partition, a second adds the partition's offset). Over
    * a sorted frame that is each row's global position, computed in
    * parallel at any width. Nothing runs until an action. Classic
    * sessions only. */
  def withSequenceColumn(df: DataFrame, name: String): DataFrame = df match {
    case d: org.apache.spark.sql.classic.Dataset[_] => d.withSequenceColumn(name)
    case other => throw new UnsupportedOperationException(
      s"a sequence column needs a classic Dataset (got ${other.getClass.getName})")
  }
}
