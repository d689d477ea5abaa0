package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> catalyst Expression bridge for graft's native expressions
  * (e.g. [[graft.functions.DotFloat]]).
  *
  * Spark 4 hides the classic converters behind `private[sql]`, so this
  * object lives in an `org.apache.spark.sql` subpackage to reach them —
  * the established pattern for libraries shipping custom catalyst
  * expressions without forcing users to install SparkSessionExtensions
  * on every session. This is the ONLY file outside the `graft` package.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The persisted RDD backing a `localCheckpoint`ed DataFrame, if any.
    *
    * `Dataset.localCheckpoint` truncates lineage by swapping the plan
    * for a [[org.apache.spark.sql.execution.LogicalRDD]] over an
    * internally-persisted RDD — but exposes no handle to release those
    * blocks, so iterative algorithms that snapshot each round
    * (connected components, BFS, k-core) would otherwise hold every
    * superseded round's storage until the driver GC happens to collect
    * the RDD reference. This accessor lets [[graft.ext.Graph]] release
    * a superseded snapshot deterministically.
    */
  def checkpointedRdd(df: org.apache.spark.sql.DataFrame)
      : Option[org.apache.spark.rdd.RDD[_]] =
    // Root-node-only match: `localCheckpoint` returns a frame whose
    // analyzed plan IS a LogicalRDD (the checkpoint scan). Matching
    // deeper would find LogicalRDDs that merely feed a derived frame —
    // checkpointed inputs composed under projections/joins, or a
    // user-created RDD-backed frame — and unpersisting those could
    // yank storage still backing other live frames. Derived frames are
    // therefore NOT releasable through this; release the original
    // snapshot handle instead.
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => Some(l.rdd)
      case _ => None
    }
}
