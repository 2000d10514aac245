package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** Bridge to Spark 4's private[sql] Dataset.ofRows — the only way to turn
  * a hand-built LogicalPlan (graft.plans.AsOfJoinPlan, a bound SQL text)
  * into a public DataFrame — and to the session's SQL parser. Same
  * stance as ColumnBridge: a minimal accessor living in the
  * org.apache.spark.sql package scope, the standard extension-library
  * technique. */
object DatasetBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `text` parsed, not analysed, by the session's parser (the parser
    * `spark.sql` uses, extensions included). */
  def parse(spark: SparkSession, text: String): LogicalPlan =
    spark.asInstanceOf[classic.SparkSession].sessionState.sqlParser
      .parsePlan(text)
}
