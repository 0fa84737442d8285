package org.apache.spark.sql.graftbridge

import org.apache.spark.{SparkConf, SparkContext}
import org.apache.spark.scheduler.SparkListenerEvent
import org.apache.spark.sql.{classic, Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionColumnNode}

/** Column <-> Expression bridge.
  *
  * Spark 4 made `new Column(expr: Expression)` private[sql]; the sanctioned
  * ways to use a custom Catalyst Expression are SQL function registration
  * (SparkSessionExtensions) or a private[sql]-scoped shim. This package
  * lives under org.apache.spark.sql to host that shim — the same pattern
  * extension libraries in the Spark ecosystem use — and the private[spark]
  * context calls `graft.GraftExtensions` and `graft.Bench` need. Nothing
  * else in the engine reaches into Spark internals.
  */
object Bridge {
  def column(e: Expression): Column = Column(ExpressionColumnNode(e))

  def expression(c: Column): Expression =
    ColumnNodeToExpressionConverter(c.node)

  /** Register a Catalyst expression builder as a temp SQL function on an
    * existing session (the post-hoc alternative to SparkSessionExtensions
    * .injectFunction, which only applies at session construction). */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** The running SparkContext. Spark applies session extensions right
    * after creating it, before any session state exists. */
  def activeContext: Option[SparkContext] = SparkContext.getActive

  /** `sc`'s own conf, not the copy `getConf` returns. */
  def sparkConf(sc: SparkContext): SparkConf = sc.conf

  /** Post `e` to `sc`'s listener bus, behind every event posted so far. */
  def post(sc: SparkContext, e: SparkListenerEvent): Unit = sc.listenerBus.post(e)
}
