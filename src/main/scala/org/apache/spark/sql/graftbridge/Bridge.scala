package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> catalyst Expression bridge. Spark 4 made these
  * conversions `private[sql]` (`org.apache.spark.sql.classic.
  * ExpressionUtils`, columnNodeSupport.scala); a package-nested shim is
  * the standard extension-library technique to lift them for custom
  * Expression wrappers.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Block until every event posted so far has reached its listeners
    * (`private[spark]`), so a listener's counts can be read exactly. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
