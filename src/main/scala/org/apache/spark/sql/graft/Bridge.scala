package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD

/** Column <-> Expression bridge. Spark 4's Column wraps a ColumnNode
  * and the conversion helpers are private[sql]; this shim (in an
  * org.apache.spark.sql subpackage, the standard extension-point
  * technique) exposes exactly the conversions our custom expressions,
  * cache management and the harness timer need. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Unpersist the RDD blocks behind a localCheckpoint'ed frame.
    * `DataFrame.unpersist` is a no-op for checkpoints (the blocks are
    * RDD storage, not CacheManager entries), so without this they
    * linger until driver GC triggers the ContextCleaner. Only call it
    * once the frame's consumers have run — a checkpoint has no lineage
    * to recompute from. */
  def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }

  /** Block until every listener has seen every posted event, so
    * listener counters read after a job describe all of it (the bus
    * delivers asynchronously). */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
