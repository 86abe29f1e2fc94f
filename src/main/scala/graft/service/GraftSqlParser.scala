package graft.service

import org.apache.spark.sql.{GraftDmlCommand, GraftSqlBridge}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.{AddCheckConstraint, AddColumns, DeleteFromTable, DropColumns, DropConstraint, InsertIntoStatement, LogicalPlan, MergeIntoTable, RenameColumn, UnresolvedWith, UpdateTable}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructType}

/** Injected session parser (`injectParser` in GraftExtensions):
  * carries the [[SqlDml]] DML surface into PLAIN `spark.sql` — a user
  * of an extension-built session types `MERGE INTO view ...` and it
  * lands on the versioned table, without going through a
  * [[QueryService]].
  *
  * Pure routing, zero grammar: every statement parses through the
  * DELEGATE (Spark's own parser — the DML grammar already exists
  * there), and only a top-level MERGE/UPDATE/DELETE tree is re-wrapped
  * as a [[org.apache.spark.sql.GraftDmlCommand]] whose `run` dispatches
  * the ALREADY-PARSED tree through [[SqlDml.dmlPlan]]. Command
  * semantics make execution eager at `Dataset` construction — the same
  * contract as INSERT/CREATE — and parsing itself stays side-effect
  * free (EXPLAIN of a wrapped statement never mutates). `DESCRIBE
  * HISTORY` (not Spark grammar) is recognized textually before
  * delegation. When `run` finds the target is NOT a registered bare
  * vtable view, it falls back to analyzing/executing the delegate's
  * original tree — which raises Spark's native error for unsupported
  * targets, or runs the operation should a genuinely row-level-capable
  * DSv2 table ever be the target. Everything else — every SELECT,
  * every identifier/type parse — is pure delegation.
  */
final class GraftSqlParser(session: org.apache.spark.sql.SparkSession,
    delegate: ParserInterface) extends ParserInterface {

  override def parsePlan(sqlText0: String): LogicalPlan = {
    // branch WRITES (`INSERT INTO t BRANCH 'b'`) lower the TARGET to
    // the branch's table dir FIRST, then branch READS (`FROM t BRANCH
    // 'b'`) lower to `VERSION AS OF 'b'` — quote-aware, identity
    // without the pattern; order matters (a write-position clause the
    // read scanner saw first would become an unparseable temporal
    // clause on a write target)
    val esc = SqlDml.branchReadEscapes(session)
    val sqlText = SqlDml.rewriteBranchReads(
      SqlDml.rewriteBranchWrites(session, sqlText0, esc), esc)
    if (!SqlDml.mightDispatch(sqlText)) timeTravel(delegate.parsePlan(sqlText))
    else if (SqlDml.isDescribeHistory(sqlText))
      GraftDmlCommand(sqlText, GraftSqlParser.historyOutput,
        (spark, q) => SqlDml.describeMeta(spark, q).get.collect().toSeq)
    else if (SqlDml.isDescribeDetail(sqlText))
      GraftDmlCommand(sqlText, GraftSqlParser.detailOutput,
        (spark, q) => SqlDml.describeMeta(spark, q).get.collect().toSeq)
    else if (SqlDml.isDescribeBranches(sqlText))
      GraftDmlCommand(sqlText, GraftSqlParser.branchesOutput,
        (spark, q) => SqlDml.describeMeta(spark, q).get.collect().toSeq)
    else if (SqlDml.isDescribeTags(sqlText))
      GraftDmlCommand(sqlText, GraftSqlParser.tagsOutput,
        (spark, q) => SqlDml.describeMeta(spark, q).get.collect().toSeq)
    else if (SqlDml.isBranchStmt(sqlText))
      // branch/tag lifecycle: like maintenance, no Spark grammar
      // exists — wrap BEFORE delegation
      GraftDmlCommand(sqlText,
        if (SqlDml.isCreateBranch(sqlText)) GraftSqlParser.createBranchOutput
        else if (SqlDml.isCreateTag(sqlText)) GraftSqlParser.createTagOutput
        else if (SqlDml.isDropBranch(sqlText) || SqlDml.isDropTag(sqlText))
          GraftSqlParser.dropBranchOutput
        else GraftSqlParser.versionOutput,
        (spark, q) => SqlDml.branchStmt(spark, q, () => ()).get.collect().toSeq)
    else if (SqlDml.isMvStmt(sqlText))
      // materialized-view DDL: no Spark grammar — wrap BEFORE delegation
      GraftDmlCommand(sqlText,
        if (SqlDml.isCreateMv(sqlText)) GraftSqlParser.mvCreateOutput
        else if (SqlDml.isDropMv(sqlText)) GraftSqlParser.dropBranchOutput
        else GraftSqlParser.versionOutput,
        (spark, q) => SqlDml.mvStmt(spark, q, () => (), None).get.collect().toSeq)
    else if (SqlDml.isMaintenance(sqlText))
      // VACUUM / OPTIMIZE / RESTORE — no Spark grammar exists for
      // these, so the command wraps BEFORE delegation (which would
      // raise a parse error)
      GraftDmlCommand(sqlText,
        if (SqlDml.isVacuum(sqlText)) GraftSqlParser.vacuumOutput
        else GraftSqlParser.versionOutput,
        (spark, q) => SqlDml.maintenance(spark, q, () => ()).get.collect().toSeq)
    else
      delegate.parsePlan(sqlText) match {
        // wrap ONLY when the target resolves to a registered bare
        // vtable view (probed at parse time, like DESCRIBE HISTORY):
        // non-vtable DML keeps its native plan, output schema, and
        // EXPLAIN surface. UnresolvedWith carries CTE-prefixed DML —
        // dmlPlan inlines the prologue before dispatching.
        case dmlTree @ (_: MergeIntoTable | _: UpdateTable | _: DeleteFromTable |
            _: InsertIntoStatement | _: UnresolvedWith |
            _: org.apache.spark.sql.catalyst.plans.logical.OverwriteByExpression)
            if SqlDml.isVTableDml(session, dmlTree) =>
          GraftDmlCommand(sqlText, GraftSqlParser.versionOutput,
            (spark, _) =>
              SqlDml.dmlPlan(spark, dmlTree, () => ())
                .map(_.collect().toSeq)
                .getOrElse(GraftSqlBridge.ofRows(spark, dmlTree).collect().toSeq))
        // ALTER TABLE ADD/RENAME/DROP COLUMN against a registered
        // vtable view routes to its metadata-only evolution commits;
        // any other ALTER keeps Spark's native plan and errors
        case alterTree @ (_: AddColumns | _: RenameColumn | _: DropColumns |
            _: AddCheckConstraint | _: DropConstraint |
            _: org.apache.spark.sql.catalyst.plans.logical.AddConstraint)
            if SqlDml.isVTableAlter(session, alterTree) =>
          GraftDmlCommand(sqlText, GraftSqlParser.versionOutput,
            (spark, _) =>
              SqlDml.alterPlan(spark, alterTree, () => ())
                .map(_.collect().toSeq)
                .getOrElse(GraftSqlBridge.ofRows(spark, alterTree).collect().toSeq))
        case other => timeTravel(other)
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
    else timeTravel(delegate.parsePlanWithParameters(
      SqlDml.rewriteBranchReads(SqlDml.rewriteBranchWrites(session, sqlText,
        SqlDml.branchReadEscapes(session)), SqlDml.branchReadEscapes(session)),
      ctx))
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

object GraftSqlParser {
  /** DML result shape: the committed version (same contract as the
    * QueryService dispatch path).
    */
  private def versionOutput: Seq[Attribute] =
    Seq(AttributeReference("version", IntegerType, nullable = false)())

  /** VACUUM reports reclamation, not a commit. */
  private def vacuumOutput: Seq[Attribute] =
    Seq(AttributeReference("deleted_files", IntegerType, nullable = false)())

  private def mvCreateOutput: Seq[Attribute] = Seq(
    AttributeReference("view", StringType, nullable = false)(),
    AttributeReference("version", IntegerType, nullable = false)())

  private def createBranchOutput: Seq[Attribute] = Seq(
    AttributeReference("branch", StringType, nullable = false)(),
    AttributeReference("fork_version", IntegerType, nullable = false)())

  private def dropBranchOutput: Seq[Attribute] = Seq(
    AttributeReference("dropped",
      org.apache.spark.sql.types.BooleanType, nullable = false)())

  /** Mirrors DESCRIBE BRANCHES' roster frame. */
  private def branchesOutput: Seq[Attribute] = Seq(
    AttributeReference("branch", StringType, nullable = true)(),
    AttributeReference("fork_version", IntegerType, nullable = false)(),
    AttributeReference("head_version", IntegerType, nullable = false)())

  /** Mirrors DESCRIBE TAGS' roster frame. */
  private def tagsOutput: Seq[Attribute] = Seq(
    AttributeReference("tag", StringType, nullable = true)(),
    AttributeReference("version", IntegerType, nullable = false)(),
    AttributeReference("ts", LongType, nullable = false)(),
    AttributeReference("message", StringType, nullable = true)())

  private def createTagOutput: Seq[Attribute] = Seq(
    AttributeReference("tag", StringType, nullable = false)(),
    AttributeReference("version", IntegerType, nullable = false)())

  /** Mirrors [[graft.sources.VersionedTable.detail]]'s schema. */
  private def detailOutput: Seq[Attribute] = Seq(
    AttributeReference("location", StringType, nullable = false)(),
    AttributeReference("version", IntegerType, nullable = false)(),
    AttributeReference("op", StringType, nullable = false)(),
    AttributeReference("ts", LongType, nullable = true)(),
    AttributeReference("num_files", IntegerType, nullable = false)(),
    AttributeReference("num_rows", LongType, nullable = true)(),
    AttributeReference("size_bytes", LongType, nullable = false)(),
    AttributeReference("cdf_enabled",
      org.apache.spark.sql.types.BooleanType, nullable = false)(),
    AttributeReference("constraints", StringType, nullable = false)())

  /** Mirrors [[graft.sources.VersionedTable.history]]'s schema
    * (incl. the operation-metrics columns — a drift here surfaces as
    * a CatalystTypeConverters arity crash on the plain-spark.sql
    * DESCRIBE HISTORY path).
    */
  private def historyOutput: Seq[Attribute] = Seq(
    AttributeReference("version", IntegerType, nullable = false)(),
    AttributeReference("op", StringType, nullable = false)(),
    AttributeReference("ts", LongType, nullable = true)(),
    AttributeReference("n_files", IntegerType, nullable = false)(),
    AttributeReference("epoch", LongType, nullable = true)(),
    AttributeReference("files_added", IntegerType, nullable = true)(),
    AttributeReference("files_removed", IntegerType, nullable = true)(),
    AttributeReference("rows_added", LongType, nullable = true)(),
    AttributeReference("rows_removed", LongType, nullable = true)(),
    AttributeReference("op_params", StringType, nullable = true)())
}
