package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeExpression, ExpressionUtils}
import org.apache.spark.sql.types.{DataType, StringType}

/** Bridge between `Column` and Catalyst `Expression` for Spark 4.x, where
  * the converters are `private[sql]`. Lives under org.apache.spark.sql only
  * to gain package visibility; contains no Spark-internal logic. */
object Shims {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Structural identity key for a Column: the NORMALIZED ColumnNode (what
    * Column.equals itself compares) — origins/stack-traces stripped, but
    * semantic modifiers like isDistinct kept, unlike Column.toString which
    * elides them (count(x) and count(DISTINCT x) print identically). */
  def columnKey(c: Column): String = c.node.normalized.toString

  /** SQL text of an expression, also before analysis: a Column's
    * expression is a placeholder until then, printed from its node. */
  def sql(e: Expression): String = e match {
    case ColumnNodeExpression(node) => node.sql
    case _ => e.sql
  }

  /** True for a string type under the default `UTF8_BINARY` collation,
    * whose comparisons are byte comparisons. */
  def isBinaryString(dt: DataType): Boolean = dt match {
    case st: StringType => st.isUTF8BinaryCollation
    case _ => false
  }
}
