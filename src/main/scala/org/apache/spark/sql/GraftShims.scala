package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge between graft's native Catalyst expressions and the public
  * Column API. Spark 4 wraps Column around ColumnNode; the converters
  * live behind `private[sql]`, so this one-file shim (the standard
  * extension-library pattern) exposes them to the graft packages.
  */
object GraftShims {
  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** Block until every event posted so far has reached every listener
    * (the listener bus is `private[spark]`). */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Re-root a checkpointed Dataset on its materialized RDD with FRESH
    * default statistics. The RDD is reused as is, so the stage's
    * lifecycle stays with `graft.core.Stages`, which tracks it by RDD id.
    *
    * `localCheckpoint()` truncates lineage but PRESERVES the original
    * plan's sizeInBytes estimate on the LogicalRDD. In an iterative
    * operator whose round r+1 joins round r's checkpoint, those
    * estimates COMPOUND — visitJoin multiplies child sizes, so the
    * estimate grows exponentially in round count until Catalyst's
    * BigInt stats product overflows BigInteger during planning
    * (surfaced by connectedComponents at the 100×-sf0.1 corpus,
    * round 17). Rebasing each round's checkpoint on its RDD with
    * default leaf stats keeps every iteration's plan estimate bounded
    * by one round's shape. The checkpoint's outputPartitioning and
    * outputOrdering ride along (round-17 advice): they are physical
    * facts about the materialized RDD, so dropping them would make
    * every consumer re-exchange data that is already hash-partitioned
    * — ONLY the stats reset. */
  def rebaseCheckpoint(df: DataFrame): DataFrame = df match {
    case c: org.apache.spark.sql.classic.Dataset[_] =>
      c.queryExecution.analyzed match {
        case l: org.apache.spark.sql.execution.LogicalRDD =>
          org.apache.spark.sql.classic.Dataset.ofRows(c.sparkSession,
            org.apache.spark.sql.execution.LogicalRDD(
              l.output, l.rdd, l.outputPartitioning,
              l.outputOrdering)(c.sparkSession))
        case _ => df
      }
    case _ => df
  }
}
