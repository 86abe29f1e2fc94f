package graft.service

import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{DataType, StructType}

/** Injected session parser (`injectParser` in GraftExtensions): graft's
  * one SQL router. A user of an extension-built session — or of a
  * [[QueryService]], which requires one — types `MERGE INTO view ...`
  * or `VACUUM t` and it lands on the versioned table.
  *
  * Pure routing, zero grammar of its own — [[SqlDml]] holds the
  * statement grammar, runners and result schemas, and every text probe
  * reads the tokens of Spark's own lexer ([[SqlTokens]]). Each
  * statement is routed once:
  *   - branch writes and reads lower at token offsets first
  *     (`t BRANCH 'b'`);
  *   - a statement Spark has no grammar for (DESCRIBE HISTORY, VACUUM,
  *     branch/tag DDL, materialized views, COPY INTO) becomes the
  *     command [[SqlDml.textCommand]] classifies, BEFORE delegation;
  *   - everything else parses through the DELEGATE (Spark's own
  *     parser), and a DML or ALTER tree over a registered bare vtable
  *     view is re-wrapped by [[SqlDml.treeCommand]].
  * A wrapped statement is an [[org.apache.spark.sql.GraftDmlCommand]]:
  * command semantics make execution eager at `Dataset` construction —
  * the same contract as INSERT/CREATE — and parsing itself stays side-
  * effect free (EXPLAIN of a wrapped statement never mutates). Every
  * other plan — every SELECT — is the delegate's, with `VERSION AS OF`
  * over a vtable view pinned here ([[timeTravel]]).
  */
final class GraftSqlParser(session: org.apache.spark.sql.SparkSession,
    delegate: ParserInterface) extends ParserInterface {

  /** Branch WRITES (`INSERT INTO t BRANCH 'b'`) lower the TARGET to
    * the branch's table dir FIRST, then branch READS (`FROM t BRANCH
    * 'b'`) lower to `VERSION AS OF 'b'` — both spliced at the tokens
    * of Spark's own lexer, identity without the pattern; order matters
    * (a write-position clause the read scanner saw first would become
    * an unparseable temporal clause on a write target).
    */
  private def lowerBranches(sqlText: String): String =
    SqlDml.rewriteBranchReads(SqlDml.rewriteBranchWrites(session, sqlText))

  override def parsePlan(sqlText0: String): LogicalPlan = {
    val sqlText = lowerBranches(sqlText0)
    if (!SqlDml.mightDispatch(sqlText)) timeTravel(delegate.parsePlan(sqlText))
    else SqlDml.textCommand(sqlText).getOrElse {
      val tree = delegate.parsePlan(sqlText)
      SqlDml.treeCommand(session, sqlText, tree).getOrElse(timeTravel(tree))
    }
  }

  /** `VERSION AS OF` / `TIMESTAMP AS OF` over a vtable view pins the
    * versioned scan here at parse time — see
    * [[graft.plans.VTableTimeTravel]] for why this cannot be an
    * analyzer rule. Identity on plans with no time-travel node.
    */
  private def timeTravel(plan: LogicalPlan): LogicalPlan =
    if (!graft.plans.VTableTimeTravel.hasTimeTravel(plan)) plan
    else graft.plans.VTableTimeTravel.substitute(session, plan)

  /** PARAMETERIZED plans must not lose their binds: ParserInterface's
    * DEFAULT parsePlanWithParameters silently drops the
    * ParameterContext (it calls bare parsePlan), so an injected
    * parser that doesn't override it breaks `spark.sql(text, args)`
    * with UNBOUND_SQL_PARAMETER. BUT the classic session routes PLAIN
    * `sql(text)` through here too (with an empty context), so the
    * split must be on the BINDS, not the entry point: no actual
    * parameters → the full [[parsePlan]] routing (DML, maintenance,
    * time travel — bypassing it broke every SQL-DML statement);
    * actual parameters → delegate whole (parameter binds are plain
    * queries; the delegate wraps the proper parameterized-query node)
    * with the time-travel substitution still applied through the
    * wrapper.
    */
  override def parsePlanWithParameters(sqlText: String,
      ctx: org.apache.spark.sql.catalyst.parser.ParameterContext): LogicalPlan = {
    import org.apache.spark.sql.catalyst.parser.{HybridParameterContext, NamedParameterContext, PositionalParameterContext}
    val hasBinds = ctx match {
      case n: NamedParameterContext      => n.params.nonEmpty
      case p: PositionalParameterContext => p.params.nonEmpty
      case _: HybridParameterContext     => true
      case _                             => false
    }
    if (!hasBinds) parsePlan(sqlText)
    else timeTravel(delegate.parsePlanWithParameters(lowerBranches(sqlText), ctx))
  }

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
}
