package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Access bridge into Spark's `private[sql]` Column ↔ Expression converters
  * (Spark 4 moved Column construction behind `classic.ExpressionUtils`).
  * Compiled into the spark.sql package solely to expose these two calls to
  * graft's custom expressions — the standard pattern for third-party
  * Catalyst extensions that don't route through SparkSessionExtensions. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Register a builder in the session's function registry so the function
    * is callable from `spark.sql(...)`. */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "built-in")

  /** DataFrame over a hand-built BaseRelation (e.g. a HadoopFsRelation with
    * a custom FileIndex). `baseRelationToDataFrame` lives on the classic
    * session only in Spark 4. */
  def relationToDataFrame(spark: SparkSession,
      rel: sources.BaseRelation): DataFrame =
    spark.asInstanceOf[classic.SparkSession].baseRelationToDataFrame(rel)

  /** DataFrame over a hand-built LogicalPlan (e.g. graft's custom
    * AsOfJoinPlan node, planned by an injected strategy).
    * `Dataset.ofRows` is `private[sql]` in Spark 4. */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `schema` with every field, element and value nullable — what a file
    * source reads a written schema as. `asNullable` is `private[spark]`. */
  def asNullable(schema: types.StructType): types.StructType = schema.asNullable
}
