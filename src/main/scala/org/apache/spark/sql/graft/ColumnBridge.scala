package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's `private[sql]` Column↔Expression conversions —
  * the standard extension-library pattern for exposing custom Catalyst
  * expressions through the public Column API (Spark 4 moved Column onto
  * ColumnNode, so `new Column(expr)` no longer exists).
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The CONVERTED catalyst tree of a Column — `expression` above
    * returns a lazy `ColumnNodeExpression` wrapper (fine for embedding
    * into plans, opaque to tree inspection); this resolves the node
    * through the session converter so callers can pattern-match the
    * real And/Comparison/Literal structure (e.g. the snapshot
    * predicate-probe pruner). Parses `expr("...")` strings with the
    * session parser.
    */
  def catalystExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** Catalyst predicate → V1 `sources.Filter` (DataSourceStrategy's own
    * translator, `protected[sql]`) — how the snapshot catalog's pruning
    * ScanBuilder turns pushed-down conjuncts into the range/key probes
    * the sidecar indexes understand. None when untranslatable.
    */
  def translateFilter(e: Expression): Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.execution.datasources.DataSourceStrategy
      .translateFilter(e, supportNestedPredicatePushdown = true)

  /** V2 connector `Predicate` → V1 `sources.Filter` (Spark's own
    * `PredicateUtils.toV1`, `private[sql]`) — how RUNTIME-pushed
    * join-key sets (SupportsRuntimeV2Filtering) reach the snapshot
    * sidecar pruners, which speak the V1 filter algebra. None when
    * untranslatable.
    */
  def predicateToV1(
      p: org.apache.spark.sql.connector.expressions.filter.Predicate)
      : Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.internal.connector.PredicateUtils.toV1(p)

  /** DataFrame from a custom LogicalPlan (Dataset.ofRows is private[sql]). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The file the current task's file reader is on (what
    * `input_file_name()` reads), URI-encoded; empty outside a file scan.
    */
  def inputFilePath: org.apache.spark.unsafe.types.UTF8String =
    org.apache.spark.rdd.InputFileBlockHolder.getInputFilePath
}
