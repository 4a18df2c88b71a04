package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Access bridge for `private[sql]` Column <-> Expression conversion —
  * the standard pattern for libraries that ship custom Catalyst
  * expressions without forking Spark, plus the few other private[sql] /
  * private[spark] hooks documented below; everything else in this repo
  * uses public APIs. */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Interpreted ordering for a DataType (StructType.interpretedOrdering
    * is private[sql]) — used by graft.plans.TopKAgg's bounded heap. */
  def orderingFor(dt: org.apache.spark.sql.types.DataType): Ordering[Any] =
    org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(dt)
      .asInstanceOf[Ordering[Any]]

  /** Whether the session's CacheManager holds any cached-plan entries
    * (sharedState is private[sql]). Used by CacheHygieneSpec to prove
    * query builders release their scratch persist()s — a CacheManager
    * entry, unlike a checkpoint block, is never reclaimed by GC. */
  def cacheIsEmpty(spark: org.apache.spark.sql.SparkSession): Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty

  /** Unpersist every persisted RDD, blocking. A locally checkpointed
    * RDD is dropped through `SparkContext.unpersistRDD` (private[spark])
    * directly: `RDD.unpersist` would log a "lineage has been truncated"
    * WARN for each one, and a released scratch checkpoint is never read
    * again. */
  def unpersistAll(sc: org.apache.spark.SparkContext): Unit =
    sc.getPersistentRDDs.values.foreach { rdd =>
      if (rdd.checkpointData.exists(
          _.isInstanceOf[org.apache.spark.rdd.LocalRDDCheckpointData[_]]))
        sc.unpersistRDD(rdd.id, blocking = true)
      else rdd.unpersist(blocking = true)
    }

  /** Block until every event posted so far has reached its listeners
    * (the listener bus is private[spark]) — graft.Plans and Probe's job
    * counter read what their listeners saw only after this returns. */
  def drainListenerBus(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** DataFrame over an RDD[InternalRow] without a Row (de)serialization
    * round-trip (`internalCreateDataFrame` is private[sql]). Used by
    * graft.operators.GlobalIndex to stamp ordinals onto UnsafeRows
    * directly — `spark.createDataFrame(RDD[Row], schema)` would copy
    * every field of every row out of and back into Tungsten. */
  def internalCreateDataFrame(spark: org.apache.spark.sql.SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** DataFrame over a constructed LogicalPlan (`Dataset.ofRows` is
    * private[sql]) — used by graft.plans.AsofJoin to hand its custom
    * logical node to the planner. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Register an expression builder as a SQL temp function on a session
    * (FunctionRegistry is private[sql]); lets `spark.sql` text call
    * native graft expressions like `graft_dot`. */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")
}
