package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.util.Utils

/** Bridge from graft to the Spark internals it needs but cannot name from
  * its own packages: the `private[sql]` `classic.ExpressionUtils` between
  * graft's custom Catalyst expressions and the public Column API (Spark 4
  * removed `new Column(expr)`), and the `private[spark]` local-dir
  * resolution of `util.Utils`. Hence this one-file shim living in the
  * `org.apache.spark.sql` package (the conventional pattern for Spark
  * extension libraries).
  */
object GraftExpressionBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The local dirs Spark's block manager spills and shuffles to, in the
    * order and from the sources Spark itself reads them. */
  def configuredLocalDirs(spark: SparkSession): Seq[String] =
    Utils.getConfiguredLocalDirs(spark.sparkContext.conf).toSeq
}
