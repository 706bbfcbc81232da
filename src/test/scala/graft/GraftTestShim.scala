package org.apache.spark.sql.classic
object GraftTestShim {
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    Dataset.ofRows(spark.asInstanceOf[SparkSession], plan)
  def exprCol(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.Column =
    ExpressionUtils.column(e)
  def unsetConf(spark: org.apache.spark.sql.SparkSession, key: String): Unit =
    spark.asInstanceOf[SparkSession].sessionState.conf.unsetConf(key)
}
