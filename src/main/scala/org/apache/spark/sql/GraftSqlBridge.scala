package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The one `private[sql]` doorway graft needs: turning a constructed
  * [[LogicalPlan]] back into a [[DataFrame]]. Every custom logical
  * operator (graft.plans.TopKPerGroupPlan) has to re-enter the public
  * Dataset API through `Dataset.ofRows`, which Spark scopes to its own
  * package — the standard extension-library recipe is this one-object
  * bridge file compiled into the `org.apache.spark.sql` package. Kept
  * deliberately minimal: no other internal surface is re-exported.
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Catalyst expression behind a public [[Column]] — converted
    * EAGERLY. (Spark 4 wraps a ColumnNode; `ExpressionUtils.expression`
    * returns a lazy `ColumnNodeExpression` placeholder that only the
    * analyzer unwraps, useless for inspecting the caller's sort
    * direction before a plan exists.)
    */
  def expr(c: Column): catalyst.expressions.Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** The reverse direction: a public [[Column]] over a catalyst
    * expression (Spark 4 fenced the wrapping constructor too). Used by
    * the SQL DML dispatcher, which pattern-matches parsed
    * UPDATE/DELETE trees and hands their condition/assignment
    * expressions to the versioned-table API, whose surface is Columns.
    */
  def column(e: catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  /** Re-tag a batch frame as a streaming one — what a DSv1
    * `Source.getBatch` must hand MicroBatchExecution (it asserts
    * `isStreaming`). Same recipe as Spark's own file stream source:
    * the batch plan's RDD wrapped in a streaming-flagged LogicalRDD.
    * The RDD is lazy; nothing executes here.
    */
  def asStreamingFrame(df: DataFrame): DataFrame =
    df.sparkSession.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(df.queryExecution.toRdd, df.schema, isStreaming = true)

  /** Block until every listener has seen every event posted so far;
    * an action's job and stage events are posted before it returns.
    */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}

/** Eager command node for the injected SQL parser
  * (graft.service.GraftSqlParser): a versioned-table DML statement
  * parses to THIS instead of Spark's DSv2 DML tree, so it executes
  * with command semantics — eagerly at Dataset construction, exactly
  * like INSERT/CREATE — and its result (the committed version, or the
  * history rows) IS the statement's result set. Lives in this package
  * because `LeafRunnableCommand` is `private[sql]`; behavior stays in
  * graft.service — this is only the plumbing shell (same posture as
  * the other bridge members above).
  */
case class GraftDmlCommand(sqlText: String,
    override val output: Seq[catalyst.expressions.Attribute],
    runner: (SparkSession, String) => Seq[Row])
  extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = runner(session, sqlText)
  override def simpleString(maxFields: Int): String =
    s"GraftDmlCommand ${sqlText.linesIterator.next().take(60)}"
}

package catalyst.parser {

  /** Spark scopes `UpperCaseCharStream` to this package, so its one
    * constructor call lives here: the character stream Spark's parser
    * feeds its lexer — the statement text, upper-cased for keyword
    * matching only (token text keeps the original case).
    * graft.service.SqlTokens lexes over it.
    */
  object GraftParserBridge {
    def upperCaseCharStream(sql: String): org.antlr.v4.runtime.CharStream =
      new UpperCaseCharStream(org.antlr.v4.runtime.CharStreams.fromString(sql))
  }
}
