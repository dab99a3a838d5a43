package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 made the converters
  * `private[sql]` (`org.apache.spark.sql.classic.ExpressionUtils`), so
  * extension libraries shipping custom Catalyst expressions expose
  * them through a shim in the sql package — the same pattern the
  * public geo/lakehouse Spark extensions use. This is the ONLY file
  * outside the graft namespace.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Eagerly converts a Column's node tree to a catalyst Expression.
    * `expression` wraps lazily in a `ColumnNodeExpression` that the
    * analyzer converts during plan resolution — fine when the result
    * flows back through the DataFrame API, but Unevaluable when
    * returned from a SQL FunctionBuilder (the analyzer embeds it
    * as-is). Function builders must use this eager form. */
  def toCatalyst(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** Rebind a DataFrame's analyzed plan to another session of the SAME
    * SparkContext (`Dataset.ofRows` is private[sql]). Iterative
    * operators use this to run their loop under a [[cloneSession]]
    * whose SQLConf they own — frontier-sized shuffle partitions, AQE
    * toggles — without mutating, or racing with concurrent users of,
    * the caller's session. */
  def rebindSession(df: org.apache.spark.sql.DataFrame,
                    to: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      to.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      df.queryExecution.analyzed)

  /** Block until the async listener bus has delivered every event
    * posted so far (`waitUntilEmpty` is private[spark]; 10 s bound). A
    * finished action has posted its job and task ends, so a listener
    * read after this sees all of them. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** True session clone (`cloneSession()` is private[sql]): unlike
    * `newSession()`, the clone COPIES the caller's full SessionState —
    * including runtime `spark.conf.set` values that never reached the
    * SparkContext conf — so a loop-scoped session inherits exactly the
    * semantics (ANSI, timezone, legacy parquet flags…) its input plans
    * were built under, then overrides only what it owns. */
  def cloneSession(s: org.apache.spark.sql.SparkSession): org.apache.spark.sql.SparkSession =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  /** Flag a batch plan as STREAMING — what a V1 streaming `Source`'s
    * `getBatch` must return (MicroBatchExecution asserts
    * `isStreaming=true` on the result). FileStreamSource does exactly
    * this internally (`LogicalRelation(..., isStreaming = true)`); the
    * bridge re-tags every leaf relation of an analyzed batch read so a
    * manifest-resolved parquet DataFrame can be served as a
    * micro-batch without hand-writing a DataSourceV2 PartitionReader. */
  /** Flag a COMPUTED batch plan as streaming by hiding it behind an
    * RDD leaf: the batch query executes distributed as an ordinary RDD
    * lineage, and the streaming planner sees only an opaque streaming
    * scan — so set operations / joins INSIDE the plan stay batch
    * operators instead of being re-planned as stateful streaming ones
    * (the Kafka-source `internalCreateDataFrame` pattern; [[asStreaming]]
    * re-tags leaves in place, which is only safe for scan+project
    * plans). Nothing materializes on the driver. */
  def asStreamingComputed(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val s = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    s.internalCreateDataFrame(df.queryExecution.toRdd, df.schema, isStreaming = true)
  }

  def asStreaming(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val tagged = df.queryExecution.analyzed.transform {
      case lr: LogicalRelation => lr.copy(isStreaming = true)
      case lv: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        lv.copy(isStreaming = true)
    }
    org.apache.spark.sql.classic.Dataset.ofRows(
      df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      tagged)
  }

  /** Inverse of [[asStreaming]]/[[asStreamingComputed]] for SPEC-side
    * direct-source drives: re-tag every streaming leaf batch so the
    * frame a `Source.getBatch` returned can be collected without the
    * micro-batch engine (specs emulate the engine's getOffset/getBatch
    * loop to pin admission windows). Not used by any runtime path —
    * the engine itself owns streaming execution there. */
  def asBatch(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val s = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val untagged = df.queryExecution.analyzed.transform {
      case lr: LogicalRelation if lr.isStreaming => lr.copy(isStreaming = false)
      case lv: org.apache.spark.sql.catalyst.plans.logical.LocalRelation
        if lv.isStreaming => lv.copy(isStreaming = false)
      case rdd: org.apache.spark.sql.execution.LogicalRDD if rdd.isStreaming =>
        rdd.copy(isStreaming = false)(s, None, None)
    }
    org.apache.spark.sql.classic.Dataset.ofRows(s, untagged)
  }
}
