package graft.service

import org.apache.spark.sql.{Column, DataFrame, GraftDmlCommand, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.parser.SqlBaseLexer
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, EqualTo, Expression, Literal, SubqueryExpression}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.plans.logical.{AddCheckConstraint, AddColumns, Assignment, DeleteAction, DeleteFromTable, DropColumns, DropConstraint, InsertAction, InsertIntoStatement, InsertStarAction, LogicalPlan, MergeIntoTable, RenameColumn, SubqueryAlias, UnresolvedWith, UpdateAction, UpdateStarAction, UpdateTable, View}

import graft.plans.VTableRelation
import graft.sources.VersionedTable

/** SQL-statement surface for versioned-table DML and maintenance.
  *
  * The service's pitch is "submit SQL" (the reference is a REST SQL
  * service), but Spark's own analyzer rejects `MERGE INTO` / `UPDATE`
  * / `DELETE FROM` against anything that is not a DSv2 row-level
  * table — so a user typing the standard verbs at `POST /sql` against
  * a registered vtable view would get an AnalysisException even though
  * the table API supports every one of those operations. The injected
  * [[GraftSqlParser]] closes the gap, routing each statement once at
  * parse time through this object: a statement Spark has no grammar
  * for (DESCRIBE HISTORY and friends, maintenance, branch and tag DDL,
  * materialized views, COPY INTO) is classified by [[textCommand]],
  * and a DML or ALTER tree whose target resolves to a BARE registered
  * vtable scan (a [[graft.plans.VTableRelation]] leaf — the Catalog's
  * default registration) is wrapped by [[treeCommand]]. Either becomes
  * a command that runs the corresponding
  * [[graft.sources.VersionedTable]] method. Anything else — other
  * verbs, non-vtable targets, views with baked-in transformations —
  * keeps Spark's own plan, so Spark's native error surface (and any
  * future DSv2 support) is preserved. Only the table LIFECYCLE
  * statements, which own the service's durable registry, route from
  * [[QueryService.sql]] ([[dispatch]]).
  *
  * DML and ALTER keep Spark's own grammar: the parser's delegate
  * parses them and this object only routes the parsed tree, so the
  * syntax never forks. Statements execute against the table's CURRENT version (DML
  * at a snapshot is meaningless — tables mutate at head), and when the
  * registered view was pinned at the pre-statement head it is
  * refreshed to the new head, so a follow-up SELECT over the same view
  * sees the change — the read-your-writes a SQL user expects. A view
  * deliberately time-traveled to an older version is left untouched.
  *
  * Every text probe here — the effective verb, the auth gate's
  * [[isMutation]], the branch-clause rewrites — reads the tokens of
  * [[SqlTokens]], Spark's own lexer, so no probe can end a literal or
  * a comment somewhere the parser does not.
  *
  * Supported statements:
  *
  *   - `DELETE FROM t WHERE cond` → [[VersionedTable.deleteWhere]]
  *     (stats+bloom file pruning; cond must be subquery-free)
  *   - `UPDATE t SET c = e, ... [WHERE cond]` →
  *     [[VersionedTable.updateWhere]] (expressions over the row's old
  *     values; subquery-free)
  *   - `MERGE INTO t [AS a] USING src [AS b] ON t.k = src.k` — full
  *     clause semantics, keyed by a single same-name equality:
  *       - the canonical upsert (`UPDATE SET *` + `INSERT *`, or
  *         explicit full-coverage identity lists) fast-paths to
  *         [[VersionedTable.merge]], matched-DELETE-only to
  *         [[VersionedTable.delete]];
  *       - everything else — clause conditions (`WHEN MATCHED AND
  *         …`), partial-column updates, several WHEN clauses in
  *         order, `WHEN NOT MATCHED BY SOURCE` — compiles via
  *         [[SqlDml.generalMerge]] into ONE
  *         [[VersionedTable.applyChanges]] commit. Duplicate matched
  *         target keys or duplicate acting source keys raise the
  *         standard MERGE cardinality error (keyed upsert cannot
  *         represent them). `WITH SCHEMA EVOLUTION` commits the
  *         source's added/widened columns as an empty evolving append
  *         first, then merges against the evolved schema.
  *     `src` may be any query — a registered view or inline subquery.
  *   - `INSERT INTO t [(cols…)] query|VALUES …` →
  *     [[VersionedTable.append]]; `INSERT OVERWRITE` →
  *     [[VersionedTable.overwrite]]. Positional inserts require the
  *     full column count; a column list (or BY NAME) maps by name
  *     with NULL for unlisted columns; values store-assign via cast.
  *     `INSERT INTO t REPLACE WHERE cond query` →
  *     [[VersionedTable.replaceWhere]] — the atomic predicate
  *     overwrite (delete slice + land rows in ONE commit, file-pruned
  *     like DELETE; incoming rows must satisfy the predicate).
  *   - `DESCRIBE HISTORY t` / `DESCRIBE HISTORY '/path'` →
  *     [[VersionedTable.history]]
  *   - `ALTER TABLE t ADD COLUMN[S] c TYPE[, …]` →
  *     [[VersionedTable.addColumn]]; `RENAME COLUMN a TO b` →
  *     [[VersionedTable.renameColumn]]; `DROP COLUMN[S] [IF EXISTS]
  *     c[, …]` → [[VersionedTable.dropColumn]] — all metadata-only
  *     commits; `ADD CONSTRAINT name CHECK (cond)` / `DROP CONSTRAINT
  *     [IF EXISTS] name` → [[VersionedTable.addConstraint]] /
  *     [[VersionedTable.dropConstraint]] (enforced on every
  *     subsequent write); other ALTER forms fall through to Spark
  *   - lifecycle ([[QueryService]] only — they own the durable
  *     registry): `CREATE TABLE [IF NOT EXISTS] name [(cols)] USING
  *     vtable LOCATION '/path' [AS query]` creates + registers (CTAS
  *     commits the result as v1; a column list commits an empty
  *     schema-bearing v1); `CREATE TABLE [IF NOT EXISTS] name SHALLOW
  *     CLONE source [VERSION AS OF v] LOCATION '/path'` →
  *     [[VersionedTable.cloneTo]] (zero-copy clone + register);
  *     `DROP TABLE [IF EXISTS] name` unregisters (data stays; PURGE
  *     refuses)
  *   - maintenance: `VACUUM t [RETAIN n VERSIONS]` →
  *     [[VersionedTable.vacuum]] (result = files freed);
  *     `OPTIMIZE t [ZORDER BY (c1[, … c4])]` →
  *     [[VersionedTable.compact]]; `RESTORE [TABLE] t [TO] VERSION AS
  *     OF v` → [[VersionedTable.restore]]
  *
  *   - `COPY INTO t FROM '/dir'` → [[VersionedTable.copyInto]]
  *
  * DML statements return a single row `(version int)` — the committed
  * version.
  *
  * Path spelling: every statement above, and every `table_*` metadata
  * table function, addresses a vtable either by a registered bare
  * vtable view name or by its absolute directory, quoted `'…'`, `"…"`
  * or `` `…` `` ([[vtableDir]] is the one resolver). Statements Spark
  * itself parses (DML, ALTER … COLUMN/CONSTRAINT) take the
  * backtick form only, and a path there must already hold a table
  * or the statement falls through to Spark's own error.
  */
object SqlDml {

  /** Statement classification for the HTTP layer's auth gate: verbs
    * that only ever READ. Closed-world on purpose — an unrecognized
    * leading verb classifies as a mutation, so a verb this list has
    * never heard of can never slip a write past a configured token
    * (the statement was going to error anyway if it was a typo'd
    * read). Leading parens are allowed (set-operation syntax).
    *
    * `WITH` and `FROM` are NOT in this set even though most WITH-led
    * and FROM-led statements are reads: Spark's grammar allows a CTE
    * prologue before DML (`WITH x AS (…) INSERT/MERGE/… `, including
    * `INSERT OVERWRITE DIRECTORY`) and multi-insert (`FROM t INSERT
    * OVERWRITE …`), so classifying by the literal first word would
    * let a CTE header launder a write past the bearer token. Instead
    * [[isMutation]] steps over the CTE prologue's tokens and
    * classifies by the statement verb that follows, and FROM-led
    * statements look for an `INSERT` token. A WITH prologue that does
    * not scan classifies as a mutation (closed world — it would not
    * parse as a read either).
    */
  private val ReadVerbs =
    Set("SELECT", "VALUES", "TABLE", "SHOW", "DESCRIBE", "DESC", "EXPLAIN")

  /** Index in `code` of the statement's EFFECTIVE verb: past leading
    * parens when `skipParens`, and past a well-formed `WITH …` CTE
    * prologue. A prologue that does not scan leaves the index at the
    * `WITH` itself (callers closed-world it to a mutation).
    */
  private def effectiveVerbAt(code: IndexedSeq[SqlToken],
      skipParens: Boolean): Int = {
    var i = 0
    if (skipParens)
      while (i < code.length && code(i).kind == SqlBaseLexer.LEFT_PAREN) i += 1
    if (i < code.length && code(i).kind == SqlBaseLexer.WITH) {
      val p = postCteAt(code, i + 1)
      if (p >= 0) p else i
    } else i
  }

  /** With `from` just past a leading `WITH`, step over the CTE prologue
    * — `[RECURSIVE] name [(cols…)] [AS] ( … ) [, …]*` — by matching
    * paren tokens, and return the index of the statement verb that
    * follows, or -1 when the tokens do not form a prologue. This is
    * what stops a CTE header from laundering DML past the verb
    * classifier.
    *
    * `AS` is OPTIONAL in Spark's grammar (`WITH y (SELECT 2) …`
    * parses), so a paren group straight after the name is ambiguous:
    * alias list or body. Disambiguated by what follows it — `AS` or
    * another `(` means it was the alias list; anything else means it
    * WAS the body.
    */
  private def postCteAt(code: IndexedSeq[SqlToken], from: Int): Int = {
    def is(i: Int, kind: Int) = i < code.length && code(i).kind == kind
    // index just past the ')' matching the '(' at `i`; -1 if unbalanced
    def pastGroup(i: Int): Int = {
      var depth = 0
      var j = i
      while (j < code.length) {
        if (code(j).kind == SqlBaseLexer.LEFT_PAREN) depth += 1
        else if (code(j).kind == SqlBaseLexer.RIGHT_PAREN) {
          depth -= 1
          if (depth == 0) return j + 1
        }
        j += 1
      }
      -1
    }
    var i = if (is(from, SqlBaseLexer.RECURSIVE)) from + 1 else from
    var done = false
    while (!done) {
      // CTE name: bare or back-quoted identifier
      if (i >= code.length || (code(i).word.isEmpty && !code(i).isBackquoted))
        return -1
      i += 1
      if (is(i, SqlBaseLexer.LEFT_PAREN)) { // alias list or AS-less body
        val after = pastGroup(i)
        i =
          if (after < 0) -1
          else if (is(after, SqlBaseLexer.AS))
            if (is(after + 1, SqlBaseLexer.LEFT_PAREN)) pastGroup(after + 1) else -1
          else if (is(after, SqlBaseLexer.LEFT_PAREN)) pastGroup(after)
          else after // the first group WAS the body
      } else if (is(i, SqlBaseLexer.AS) && is(i + 1, SqlBaseLexer.LEFT_PAREN))
        i = pastGroup(i + 1)
      else return -1
      if (i < 0) return -1
      if (is(i, SqlBaseLexer.COMMA)) i += 1 else done = true
    }
    if (i >= code.length) -1 else i
  }

  /** The statement's effective verb — the verb after any CTE
    * prologue. [[mightDispatch]] and [[textCommand]] key on this so
    * `WITH … MERGE INTO vtable` routes like its verb-led form.
    */
  private def effectiveVerb(query: String): String = {
    val code = SqlTokens(query).code
    code.lift(effectiveVerbAt(code, skipParens = false)).fold("")(_.word)
  }

  /** The statement from its first code token on: comment and
    * whitespace headers removed, so a commented-out preamble cannot
    * hide a statement from the regex grammars below.
    */
  private def content(query: String): String =
    SqlTokens(query).code.headOption.fold("")(t => query.substring(t.start))

  /** Whether `query` can change table/session state (MERGE / UPDATE /
    * DELETE / INSERT / CREATE / DROP / SET / ...). A token probe over
    * Spark's own lexer — it runs on every /sql request when auth is
    * on. Classifies by the EFFECTIVE verb (past any CTE prologue), and
    * a FROM-led statement is a mutation when an `INSERT` token follows
    * (Spark's multi-insert) — so neither `WITH … INSERT OVERWRITE
    * DIRECTORY …` nor `FROM t INSERT OVERWRITE …` can launder a write
    * past a configured token. A bracketed comment left open also
    * classifies as a mutation (closed world: Spark refuses to parse it).
    */
  def isMutation(query: String): Boolean = {
    val toks = SqlTokens(query)
    val code = toks.code
    val at = effectiveVerbAt(code, skipParens = true)
    val verb = code.lift(at).fold("")(_.word)
    toks.unclosedComment ||
      (if (verb == "FROM") code.drop(at + 1).exists(_.kind == SqlBaseLexer.INSERT)
       else !ReadVerbs.contains(verb))
  }

  /** The table LIFECYCLE statements, which register into the
    * service's durable catalog registry (a bare extension session
    * doesn't have one — its users attach tables via Catalog.register /
    * the scan API instead): CREATE/DROP TABLE … USING vtable, CLONE and
    * the materialized-view DDL. None for every other statement, which
    * the caller hands to `spark.sql` — the injected [[GraftSqlParser]]
    * routes those. A handled statement bumps the result cache's DDL
    * nonce.
    */
  def dispatch(svc: QueryService, query: String): Option[DataFrame] = {
    def mv = mvStmt(query, Some(svc)).map { case (_, run) => run(svc.spark) }
    val done = effectiveVerb(query) match {
      case "CREATE" => mv.orElse(
        createVTable(svc.spark, query, svc.registerSource(_, "vtable", _)))
      case "REFRESH" => mv
      case "DROP" => mv.orElse(dropVTable(svc.spark, query, svc.unregister))
      case _ => None
    }
    if (done.isDefined) svc.results.noteCommand()
    done
  }

  /** Effective-verb probe only — might the injected parser route this
    * statement? (It skips the regex / tree inspection on the hot
    * non-DML path.) Sees through a CTE prologue, so WITH-led DML
    * against a vtable view is routed instead of dying on Spark's
    * native temp-view error.
    */
  def mightDispatch(query: String): Boolean = {
    val verb = effectiveVerb(query)
    verb == "DESCRIBE" || verb == "MERGE" || verb == "UPDATE" ||
      verb == "DELETE" || verb == "INSERT" ||
      verb == "VACUUM" || verb == "OPTIMIZE" || verb == "RESTORE" ||
      verb == "COPY" || verb == "ALTER" ||
      verb == "CREATE" || verb == "REFRESH" || verb == "DROP"
  }

  /** A statement Spark has no grammar for, classified: its result
    * columns and the runner that executes it against a session.
    */
  private type TextStmt = (Seq[Attribute], SparkSession => DataFrame)

  /** Result columns from a DDL column list (`"version INT NOT NULL"`). */
  private def columns(ddl: String): Seq[Attribute] =
    DataTypeUtils.toAttributes(org.apache.spark.sql.types.StructType.fromDDL(ddl))

  private val VersionCols = "version INT NOT NULL"

  /** The injected parser's route for a statement Spark has no grammar
    * for: ONE match over the text picks the statement, and the command
    * carries its result columns and its runner. Wrapped BEFORE
    * delegation (Spark's parser would raise a parse error), executed
    * eagerly like any command, and side-effect free until then — so
    * EXPLAIN never mutates. None: not such a statement (the caller
    * delegates to Spark's parser, then [[treeCommand]]).
    */
  private[service] def textCommand(query: String): Option[LogicalPlan] = {
    val stmt = effectiveVerb(query) match {
      case "DESCRIBE" => describeMeta(query)
      case "ALTER" => branchStmt(query)
      case "VACUUM" | "OPTIMIZE" | "RESTORE" => maintenance(query)
      case "COPY" => copyIntoStmt(query)
      case "CREATE" | "REFRESH" | "DROP" => mvStmt(query, None)
      case _ => None
    }
    stmt.map { case (output, run) =>
      GraftDmlCommand(query, output, (spark, _) => run(spark).collect().toSeq)
    }
  }

  /** The injected parser's route for a tree Spark's parser produced:
    * DML or ALTER whose target is a registered bare vtable view (probed
    * at parse time, like DESCRIBE HISTORY) wraps as a command with the
    * `(version int)` result; anything else is None and keeps its native
    * plan, output schema and EXPLAIN surface. When `run` finds the
    * target is no longer a vtable view, it executes the original tree —
    * Spark's native error, or a genuinely row-level-capable DSv2 table.
    */
  private[service] def treeCommand(spark: SparkSession, query: String,
      tree: LogicalPlan): Option[LogicalPlan] = {
    val run: Option[SparkSession => Option[DataFrame]] =
      if (isVTableDml(spark, tree)) Some(dmlPlan(_, tree))
      else if (isVTableAlter(spark, tree)) Some(alterPlan(_, tree))
      else None
    run.map(r => GraftDmlCommand(query, columns(VersionCols), (s, _) =>
      r(s).getOrElse(GraftSqlBridge.ofRows(s, tree)).collect().toSeq))
  }

  private val BranchReadProbe =
    java.util.regex.Pattern.compile("(?i)\\bBRANCH\\s*'")

  /** `BRANCH` directly before a single-quoted literal, at code-token
    * index `i` — the clause both branch rewrites lower.
    */
  private def branchClauseAt(code: IndexedSeq[SqlToken], i: Int): Boolean =
    code(i).word == "BRANCH" && i + 1 < code.length &&
      code(i + 1).kind == SqlBaseLexer.STRING_LITERAL &&
      code(i + 1).text.startsWith("'")

  /** `FROM t BRANCH 'b'` → `FROM t VERSION AS OF 'b'`: the branch-READ
    * surface (Iceberg's `FOR VERSION AS OF 'branch'` family) lowered
    * onto the grammar Spark already has — [[graft.plans.VTableTimeTravel]]
    * resolves the non-numeric version string to the branch head, the
    * exact semantics of the `table_branch` TVF. Spliced at token
    * offsets from [[SqlTokens]], so `BRANCH` inside string literals,
    * quoted identifiers, or comments is untouched, and the keyword
    * only rewrites when a string literal follows (the lifecycle
    * statements — `ALTER TABLE t CREATE|DROP|MERGE BRANCH b` — use
    * bare identifiers and are additionally shielded by the
    * preceding-word check). Identity when the cheap probe misses.
    */
  def rewriteBranchReads(sql: String): String = {
    if (!BranchReadProbe.matcher(sql).find()) return sql
    val code = SqlTokens(sql).code
    val out = new java.lang.StringBuilder(sql.length + 32)
    var copied = 0
    // back-quoted identifiers deliberately do NOT become the verb
    // context (`CREATE` in `` `CREATE` `` is data, not grammar)
    var lastWord = ""
    code.indices.foreach { i =>
      if (branchClauseAt(code, i) && lastWord != "CREATE" &&
          lastWord != "DROP" && lastWord != "MERGE") {
        out.append(sql, copied, code(i).start).append("VERSION AS OF")
        copied = code(i).end
      }
      if (code(i).word.nonEmpty) lastWord = code(i).word
    }
    if (copied == 0) sql else out.append(sql, copied, sql.length).toString
  }

  /** `INSERT INTO t BRANCH 'b' …` / `MERGE INTO t BRANCH 'b' …` /
    * `UPDATE t BRANCH 'b' SET …` / `DELETE FROM t BRANCH 'b' …` /
    * `COPY INTO t BRANCH 'b' …` — the branch WRITE surface: landing
    * data ON a fork must be as SQL-complete as reading it (fork,
    * read, and merge-back already are). Spark's grammar has no
    * temporal clause on WRITE targets — `VERSION AS OF` is read-only
    * — so the write-position clause lowers the TARGET itself to the
    * branch's own table directory (a backtick-quoted absolute path
    * the DML dispatcher resolves directly; a branch IS a table under
    * `_graft_branches/<b>`). Token-spliced exactly like
    * [[rewriteBranchReads]], which must run AFTER this so
    * read-position refs (`FROM s BRANCH 'x'` in the source) still
    * lower to `VERSION AS OF`.
    *
    * The rewrite fires only when the preceding word tokens are a
    * write-target position (INSERT INTO/OVERWRITE [TABLE], MERGE
    * INTO, UPDATE, DELETE FROM, COPY INTO) AND the named target is a
    * registered bare vtable view. A resolvable target with an unknown
    * branch refuses naming the live roster — falling through would
    * hand the clause to the read scanner and die as a grammar error.
    * Writing to a TAG is structurally impossible here: tags are not
    * branch directories, so they never pass the roster check.
    */
  def rewriteBranchWrites(spark: org.apache.spark.sql.SparkSession,
      sql: String): String = {
    if (!BranchReadProbe.matcher(sql).find()) return sql
    val code = SqlTokens(sql).code
    val out = new java.lang.StringBuilder(sql.length + 32)
    var copied = 0
    // rolling window of the last three WORD tokens (bare or back-quoted
    // identifiers/keywords), plus the source span of the newest one —
    // the write rewrite replaces exactly that span (not everything
    // after it: a comment or hint between the target and BRANCH must
    // survive the rewrite)
    var w1 = ""; var w2 = ""; var w3 = ""
    // bareness per slot: the KEYWORD positions (w2/w3) may only match
    // bare words — a back-quoted identifier that happens to spell
    // `UPDATE` or `INTO` is data, not grammar, and must not spoof a
    // write-target position. The TARGET (w1) may be back-quoted.
    var b1 = false; var b2 = false; var b3 = false
    var w1Start = -1; var w1End = -1
    def push(w: String, bare: Boolean, start: Int, end: Int): Unit = {
      w3 = w2; w2 = w1; w1 = w; b3 = b2; b2 = b1; b1 = bare
      w1Start = start; w1End = end
    }
    def kw(w: String, k: String) = w.equalsIgnoreCase(k)
    def isWriteTarget: Boolean = w1.nonEmpty && w1Start >= 0 && (
      (b3 && b2 && kw(w3, "INSERT") && (kw(w2, "INTO") || kw(w2, "OVERWRITE"))) ||
      (b3 && b2 && kw(w2, "TABLE") && (kw(w3, "INTO") || kw(w3, "OVERWRITE"))) ||
      (b3 && b2 && (kw(w3, "MERGE") || kw(w3, "COPY")) && kw(w2, "INTO")) ||
      (b3 && b2 && kw(w3, "DELETE") && kw(w2, "FROM")) ||
      (b2 && kw(w2, "UPDATE")))
    var i = 0
    while (i < code.length) {
      val t = code(i)
      if (t.kind == SqlBaseLexer.HENT_START) {
        // a hint's contents are not statement words
        while (i < code.length && code(i).kind != SqlBaseLexer.HENT_END) i += 1
      } else if (branchClauseAt(code, i) && isWriteTarget) {
        // a QUALIFIED target (db.t) can never be a registered bare
        // vtable view, and falling through would hand the clause to
        // the read scanner and die as an opaque VERSION-AS-OF-on-
        // write-target grammar error — refuse with the guided
        // message instead
        if (w1.contains("."))
          fail(s"BRANCH write: target '$w1' is qualified — branch " +
            "writes take bare registered vtable views only " +
            "(register the table and write to the view name)")
        resolveVTable(spark, w1) match {
          case Some(dir) =>
            val lit = code(i + 1)
            val branch =
              org.apache.spark.sql.catalyst.util.SparkParserUtils.unescapeSQLString(lit.text)
            val vt = VersionedTable(spark, dir)
            if (!vt.branchNames.contains(branch))
              fail(s"BRANCH write: '$branch' is not a live branch of " +
                s"'$w1' (branches: ${vt.branchNames.mkString(", ")}); " +
                "fork one with ALTER TABLE ... CREATE BRANCH first")
            // splice ONLY the target identifier's span: a comment or
            // optimizer hint between the target and BRANCH re-emits
            // after the lowered path instead of being silently deleted
            // (pure whitespace still drops — the clause's own spacing
            // re-establishes it)
            val mid = sql.substring(w1End, t.start)
            out.append(sql, copied, w1Start)
              .append('`').append(vt.branch(branch).dir).append('`')
            if (mid.exists(!_.isWhitespace)) out.append(mid)
            // the lowered path erases the name the user would qualify
            // columns with (`ON t.k = s.k`, `WHERE t.k`): re-alias the
            // target AS the original name UNLESS the user wrote their
            // own alias (peeked: anything but the verb's own
            // structural keyword / end of clause). INSERT/COPY targets
            // take no alias in the grammar.
            val insertFamily = kw(w3, "INSERT") || kw(w3, "COPY") ||
              (kw(w2, "TABLE") && (kw(w3, "INTO") || kw(w3, "OVERWRITE")))
            val structural =
              if (kw(w3, "MERGE")) "USING"
              else if (kw(w2, "UPDATE")) "SET"
              else "WHERE" // DELETE FROM
            val userAliased = code.lift(i + 2).exists(n =>
              n.isBackquoted || (n.word.nonEmpty && n.word != structural))
            if (!insertFamily && !userAliased)
              out.append(" AS `").append(w1).append('`')
            copied = lit.end // the clause never emits
            push("", bare = false, -1, -1) // the clause is consumed; reset history
            i += 1
          case None => () // alias or native table: not ours
        }
      }
      if (i < code.length && (code(i).word.nonEmpty || code(i).isBackquoted)) {
        val w = code(i)
        // a word directly after a '.' EXTENDS the current w1 into a
        // qualified name instead of shifting the window — so the
        // write-verb detection above still sees (INSERT, INTO) in
        // w3/w2 and the qualified-target refusal can name the problem
        if (i > 0 && code(i - 1).kind == SqlBaseLexer.DOT && w1.nonEmpty && w1Start >= 0) {
          w1 = w1 + "." + w.name
          w1End = w.end
        } else push(w.name, bare = !w.isBackquoted, w.start, w.end)
      }
      i += 1
    }
    if (copied == 0) sql else out.append(sql, copied, sql.length).toString
  }

  private val HistoryRe =
    """(?is)^\s*DESCRIBE\s+HISTORY\s+(.+?)\s*;?\s*$""".r
  private val DetailRe =
    """(?is)^\s*DESCRIBE\s+DETAIL\s+(.+?)\s*;?\s*$""".r
  private val BranchesRe =
    """(?is)^\s*DESCRIBE\s+BRANCHES\s+(.+?)\s*;?\s*$""".r
  private val TagsRe =
    """(?is)^\s*DESCRIBE\s+TAGS\s+(.+?)\s*;?\s*$""".r

  private[service] def describeMeta(query: String): Option[TextStmt] = {
    def table(spark: SparkSession, target: String, what: String) =
      VersionedTable(spark, vtableDir(spark, target, what))
    content(query) match {
      // mirrors VersionedTable.history's schema, operation-metrics
      // columns included (a drift here surfaces as a
      // CatalystTypeConverters arity crash)
      case HistoryRe(target) => Some(columns("version INT NOT NULL, " +
        "op STRING NOT NULL, ts BIGINT, n_files INT NOT NULL, epoch BIGINT, " +
        "files_added INT, files_removed INT, rows_added BIGINT, " +
        "rows_removed BIGINT, op_params STRING") ->
        (table(_, target, "DESCRIBE HISTORY").history()))
      // Delta's DESCRIBE DETAIL: one-row operational summary (mirrors
      // VersionedTable.detail's schema)
      case DetailRe(target) => Some(columns("location STRING NOT NULL, " +
        "version INT NOT NULL, op STRING NOT NULL, ts BIGINT, " +
        "num_files INT NOT NULL, num_rows BIGINT, size_bytes BIGINT NOT NULL, " +
        "cdf_enabled BOOLEAN NOT NULL, constraints STRING NOT NULL") ->
        (table(_, target, "DESCRIBE DETAIL").detail()))
      // branch roster: (branch, fork_version, head_version) per live
      // branch — O(branch manifests) metadata, no data IO
      case BranchesRe(target) => Some(columns("branch STRING, " +
        "fork_version INT NOT NULL, head_version INT NOT NULL") -> { spark =>
        import spark.implicits._
        table(spark, target, "DESCRIBE BRANCHES").branches()
          .toDF("branch", "fork_version", "head_version").orderBy("branch")
      })
      // tag roster: (tag, version, ts, message) per live pin — O(tag files)
      case TagsRe(target) => Some(columns("tag STRING, version INT NOT NULL, " +
        "ts BIGINT NOT NULL, message STRING") -> { spark =>
        import spark.implicits._
        table(spark, target, "DESCRIBE TAGS").tags()
          .toDF("tag", "version", "ts", "message").orderBy("tag")
      })
      case _ => None // plain DESCRIBE t — Spark's own statement
    }
  }

  // ---- maintenance statements (none are Spark grammar) -------------

  private val VacuumRe =
    """(?is)^\s*VACUUM\s+(.+?)(?:\s+RETAIN\s+(\d+)\s+(VERSIONS|HOURS))?(\s+DRY\s+RUN)?\s*;?\s*$""".r
  // the WHERE group is TEMPERED against ZORDER: an unparsable ZORDER
  // list must surface as the statement error it is, not backtrack into
  // the predicate and blame a condition the user never wrote
  private val OptimizeRe =
    """(?is)^\s*OPTIMIZE\s+(.+?)(?:\s+WHERE\s+((?:(?!\bZORDER\b).)+?))?(?:\s+ZORDER\s+BY\s+\(?\s*([A-Za-z0-9_`\s,]+?)\s*\)?)?\s*;?\s*$""".r
  private val VacuumOrphansRe =
    ("""(?is)^\s*VACUUM\s+(.+?)\s+ORPHANS""" +
     """(?:\s+OLDER\s+THAN\s+(\d+)\s+HOURS)?(\s+DRY\s+RUN)?\s*;?\s*$""").r
  // the version operand is a commit number OR a quoted TAG name —
  // "roll back to the blessed snapshot" is the tag idiom's other half
  private val RestoreRe =
    """(?is)^\s*RESTORE\s+(?:TABLE\s+)?(.+?)\s+(?:TO\s+)?VERSION\s+AS\s+OF\s+(\d+|'[A-Za-z_][A-Za-z0-9_.-]*')\s*;?\s*$""".r
  private val RestoreTsRe =
    ("""(?is)^\s*RESTORE\s+(?:TABLE\s+)?(.+?)\s+(?:TO\s+)?TIMESTAMP\s+AS\s+OF\s+""" +
     """('[^']+'|"[^"]+"|\d+)\s*;?\s*$""").r

  /** Delta-shaped maintenance verbs over a vtable (any spelling
    * [[vtableDir]] accepts):
    *
    *   VACUUM t [RETAIN n VERSIONS] [DRY RUN] → vacuum(n); result = files freed (a DRY RUN reports the count with zero side effects)
    *   OPTIMIZE t [WHERE cond] [ZORDER BY (c1[, … c4])] → compact(clusterBy, where); result = version (WHERE restricts the bin-pack to stats-matching files — selective compaction)
    *   RESTORE [TABLE] t [TO] VERSION AS OF v → restore(v); result = version
    *
    * Verb classification already treats all three as mutations at the
    * HTTP auth gate (closed-world: they're not in the read set).
    */
  private[service] def maintenance(query: String): Option[TextStmt] = {
    import org.apache.spark.sql.functions.lit
    def table(spark: SparkSession, target: String, what: String) =
      VersionedTable(spark, vtableDir(spark, target, what))
    def freed(run: SparkSession => Int): Option[TextStmt] =
      Some(columns("deleted_files INT NOT NULL") ->
        (spark => spark.range(1).select(lit(run(spark)).as("deleted_files"))))
    def version(target: String, what: String)(run: VersionedTable => Int)
        : Option[TextStmt] = Some(columns(VersionCols) -> (spark =>
      commit(spark, vtableDir(spark, target, what), versionRow)(run)))
    content(query) match {
      // ORPHANS first: VacuumRe's lazy target group would otherwise
      // swallow "t ORPHANS" as a (nonexistent) table name
      case VacuumOrphansRe(target, hours, dry) => freed { spark =>
        val age = Option(hours).map(_.toLong * 3600 * 1000)
          .getOrElse(VersionedTable.DefaultOrphanAgeMs)
        table(spark, target, "VACUUM").vacuumOrphans(age, dryRun = dry != null)
      }
      case VacuumRe(target, retain, unit, dry) => freed { spark =>
        val vt = table(spark, target, "VACUUM")
        // RETAIN n HOURS (Delta's spelling) maps to newest-N retention
        // via the commit timestamps; RETAIN n VERSIONS stays direct
        val n = Option(retain).map(_.toInt) match {
          case Some(h) if unit != null && unit.equalsIgnoreCase("HOURS") =>
            vt.retainCountForHours(h)
          case Some(v) => v
          case None    => 1
        }
        vt.vacuum(retainVersions = n, dryRun = dry != null)
      }
      case OptimizeRe(target, whereCond, zorder) =>
        val cols = Option(zorder).toSeq
          .flatMap(_.split(",")).map(c => unquoteIdent(c.trim)).filter(_.nonEmpty)
        // OPTIMIZE ... WHERE: selective compaction — only files whose
        // stats may match the predicate are considered for bin-packing
        version(target, "OPTIMIZE")(_.compact(clusterBy = cols,
          where = Option(whereCond).map(w =>
            org.apache.spark.sql.functions.expr(w.trim))))
      case RestoreRe(target, ver) =>
        version(target, "RESTORE") { vt =>
          vt.restore(ver.toIntOption.getOrElse {
            val name = ver.stripPrefix("'").stripSuffix("'")
            vt.tagVersion(name).getOrElse(fail(
              s"RESTORE VERSION AS OF: '$name' is not a tag of this table " +
                s"(tags: ${vt.tagNames.mkString(", ")}); a restore target " +
                "must be immutable — commit numbers and tags only"))
          })
        }
      case RestoreTsRe(target, tsLit) =>
        version(target, "RESTORE") { vt =>
          // quoted 'yyyy-MM-dd HH:mm:ss[.f]' (session-independent local
          // parse, same as java.sql.Timestamp.valueOf) or epoch millis
          val millis = unquotePath(tsLit.trim) match {
            case Some(s) =>
              try java.sql.Timestamp.valueOf(s).getTime
              catch { case scala.util.control.NonFatal(_) => fail(
                s"RESTORE TIMESTAMP AS OF: cannot parse '$s' " +
                  "(use 'yyyy-MM-dd HH:mm:ss[.fff]' or epoch millis)") }
            case None => tsLit.trim.toLong
          }
          vt.restore(vt.versionAt(millis))
        }
      case _ => None // malformed → Spark's parser raises its parse error
    }
  }

  private val CopyRe =
    ("""(?is)^\s*COPY\s+INTO\s+(.+?)\s+FROM\s+('[^']*'|"[^"]*")""" +
     """(?:\s+FILEFORMAT\s*=\s*([A-Za-z]+))?(\s+FORCE)?\s*;?\s*$""").r

  /** `COPY INTO t FROM '/dir' [FILEFORMAT = PARQUET] [FORCE]` →
    * [[VersionedTable.copyInto]]: idempotent file-level ingest
    * (already-loaded source files skip; FORCE reloads). Result is one
    * row `(version, files_loaded)` — version unchanged when nothing
    * new was found. `COPY INTO t BRANCH 'b' FROM …` lands the files on
    * the fork: the parser's write scanner has already lowered the
    * target to the branch's table dir. Classified a mutation at the
    * auth gate (closed-world: COPY is not in the read verb set).
    */
  private[service] def copyIntoStmt(query: String): Option[TextStmt] =
    content(query) match {
      case CopyRe(target, src, fmt, force) =>
        Some(columns("version INT NOT NULL, files_loaded INT NOT NULL") -> { spark =>
          import org.apache.spark.sql.functions.lit
          // a path with no commit yet is a valid COPY target: the first
          // load creates the table
          commit(spark, vtableDir(spark, target, "COPY INTO"),
            (s, loaded: (Int, Int)) =>
              s.range(1).select(lit(loaded._1).as("version"), lit(loaded._2).as("files_loaded"))) {
            _.copyInto(
              unquotePath(src.trim).getOrElse(fail("COPY INTO needs FROM '/abs/dir'")),
              Option(fmt).map(_.toLowerCase).getOrElse("parquet"),
              force = force != null)
          }
        })
      case _ => None
    }

  /** `'path'` / `"path"` literal → the table directory itself. */
  private def unquotePath(s: String): Option[String] =
    if (s.length >= 2 && (s.head == '\'' || s.head == '"') && s.last == s.head)
      Some(s.substring(1, s.length - 1))
    else None

  private def unquoteIdent(s: String): String =
    if (s.length >= 2 && s.head == '`' && s.last == '`')
      s.substring(1, s.length - 1)
    else s

  /** Run an ALREADY-PARSED DML tree ([[treeCommand]]'s runner: the
    * statement parses exactly once, through the parser's delegate).
    */
  private[service] def dmlPlan(spark: org.apache.spark.sql.SparkSession,
      plan: LogicalPlan): Option[DataFrame] = {
    plan match {
      case w: UnresolvedWith =>
        // CTE-prefixed DML: inline the prologue's definitions into the
        // statement (classic CTE substitution) and dispatch the result
        inlineCtes(w).flatMap(p => dmlPlan(spark, p))
      case DeleteFromTable(tbl, cond) =>
        target(spark, tbl).map { case (dir, quals, _) =>
          noSubquery(cond, "DELETE")
          commit(spark, dir, versionRow) { vt =>
            vt.deleteWhere(toColumn(strip(cond, quals)))
          }
        }
      case UpdateTable(tbl, assigns, cond) =>
        target(spark, tbl).map { case (dir, quals, _) =>
          val set = assigns.map { case Assignment(k, v) =>
            noSubquery(v, "UPDATE")
            colName(k, quals).getOrElse(fail(
              s"UPDATE supports only plain column assignment targets, got ${k.sql}")) ->
              toColumn(strip(v, quals))
          }.toMap
          commit(spark, dir, versionRow) { vt =>
            vt.updateWhere(
              cond.map(c => { noSubquery(c, "UPDATE"); toColumn(strip(c, quals)) })
                .getOrElse(org.apache.spark.sql.functions.lit(true)),
              set)
          }
        }
      case i: InsertIntoStatement if i.partitionSpec.isEmpty =>
        // INSERT INTO → append, INSERT OVERWRITE → overwrite.
        // Positional inserts rename the query's output to the
        // committed names (count must match); an explicit column list
        // (or BY NAME) maps by name with NULL for unlisted columns —
        // standard SQL insert semantics. Values store-assign via cast
        // to the committed types. Partitioned specs fall through (the
        // vtable has no partition concept).
        target(spark, i.table).map { case (dir, _, _) =>
          commit(spark, dir, versionRow) { vt =>
            val data = GraftSqlBridge.ofRows(spark, i.query)
            val committed = vt.read().schema
            import org.apache.spark.sql.functions.{col, lit}
            val named =
              if (i.userSpecifiedCols.nonEmpty) {
                if (i.userSpecifiedCols.length != data.columns.length)
                  fail(s"INSERT column list names ${i.userSpecifiedCols.length} " +
                    s"columns but the query produces ${data.columns.length}")
                val unknown = i.userSpecifiedCols
                  .filterNot(c => committed.fieldNames.exists(_.equalsIgnoreCase(c)))
                if (unknown.nonEmpty)
                  fail(s"INSERT column list names non-columns: ${unknown.mkString(", ")}")
                Some(data.toDF(i.userSpecifiedCols: _*))
              } else if (i.byName) {
                // same loud-error contract as the explicit column list
                // and the star-MERGE path: a source column the target
                // lacks is data loss, not something to silently drop
                // (Spark's native BY NAME errors here too)
                val unknown = data.columns
                  .filterNot(c => committed.fieldNames.exists(_.equalsIgnoreCase(c)))
                if (unknown.nonEmpty)
                  fail(s"INSERT BY NAME: query produces columns the table " +
                    s"lacks: ${unknown.mkString(", ")}")
                Some(data)
              } else None
            val aligned = named match {
              case Some(n) =>
                val have = n.columns.map(c => c.toLowerCase -> c).toMap
                n.select(committed.fields.toSeq.map { f =>
                  have.get(f.name.toLowerCase)
                    .map(col(_).cast(f.dataType))
                    .getOrElse(lit(null).cast(f.dataType)).as(f.name)
                }: _*)
              case None => alignPositional(data, committed,
                " (name them with an INSERT (cols...) list for a partial insert)")
            }
            if (i.overwrite) vt.overwrite(aligned) else vt.append(aligned)
          }
        }
      case m: MergeIntoTable =>
        target(spark, m.targetTable).map { case (dir, targetQuals, cols) =>
          val quals = targetQuals ++ aliasesOf(m.sourceTable)
          val key = mergeKey(m.mergeCondition, quals, cols)
          val source = GraftSqlBridge.ofRows(spark, m.sourceTable)
          commit(spark, dir, versionRow) { vt =>
            mergeForm(m, quals, cols) match {
              case Upsert    => vt.merge(source, key)
              case DeleteAll => vt.delete(source.select(key), key)
              case General   => generalMerge(spark, vt, m, key, quals)
            }
          }
        }
      case o: org.apache.spark.sql.catalyst.plans.logical.OverwriteByExpression =>
        // `INSERT INTO t REPLACE WHERE cond query` — the predicate
        // overwrite (Delta's replaceWhere): one atomic
        // delete-slice-and-land commit, file-pruned like DELETE
        target(spark, o.table).map { case (dir, quals, _) =>
          noSubquery(o.deleteExpr, "REPLACE WHERE")
          commit(spark, dir, versionRow) { vt =>
            val data = GraftSqlBridge.ofRows(spark, o.query)
            val aligned = alignPositional(data, vt.read().schema, "")
            vt.replaceWhere(toColumn(strip(o.deleteExpr, quals)), aligned)
          }
        }
      case _ => None
    }
  }

  /** Whether this parsed statement is DML whose target resolves to a
    * registered bare vtable view (through any CTE prologue). The
    * injected parser wraps a DML tree as an eager command ONLY when
    * this holds, so non-vtable DML keeps its native plan, output
    * schema, and EXPLAIN surface instead of gaining an opaque
    * `(version int)` command wrapper.
    */
  private[service] def isVTableDml(spark: org.apache.spark.sql.SparkSession,
      plan: LogicalPlan): Boolean = plan match {
    case w: UnresolvedWith => inlineCtes(w).exists(isVTableDml(spark, _))
    case d: DeleteFromTable => target(spark, d.table).isDefined
    case u: UpdateTable => target(spark, u.table).isDefined
    case i: InsertIntoStatement =>
      i.partitionSpec.isEmpty && target(spark, i.table).isDefined
    case m: MergeIntoTable => target(spark, m.targetTable).isDefined
    case o: org.apache.spark.sql.catalyst.plans.logical.OverwriteByExpression =>
      target(spark, o.table).isDefined
    case _ => false
  }

  /** Inline a WITH prologue's definitions into its DML child — the
    * pre-3.0 CTE-substitution shape, applied only here because the
    * analyzer's own CTE machinery (CTERelationDef/Ref) never gets to
    * run on a tree this dispatcher takes apart. Definitions substitute
    * in order (later CTEs may reference earlier ones), into relation
    * leaves AND subquery-expression plans, with inner WITH blocks
    * shadowing outer names. None — fall through to `spark.sql`'s
    * native error surface — when the child is not a DML statement,
    * recursion is requested, or the DML target name collides with a
    * CTE name (you cannot MERGE into a CTE).
    */
  private[service] def inlineCtes(w: UnresolvedWith): Option[LogicalPlan] = {
    if (w.allowRecursion) return None
    val isDml = w.child match {
      case _: DeleteFromTable | _: UpdateTable | _: MergeIntoTable => true
      case i: InsertIntoStatement => i.partitionSpec.isEmpty
      case _ => false
    }
    if (!isDml) return None
    var defs = Map.empty[String, LogicalPlan]
    w.cteRelations.foreach { case (name, alias, _) =>
      defs += name.toLowerCase -> SubqueryAlias(alias.identifier,
        cteSubstitute(alias.child, defs))
    }
    val targetPlan = w.child match {
      case d: DeleteFromTable     => d.table
      case u: UpdateTable         => u.table
      case i: InsertIntoStatement => i.table
      case m: MergeIntoTable      => m.targetTable
    }
    if (relationName(targetPlan).exists(defs.contains)) None
    else Some(cteSubstitute(w.child, defs))
  }

  /** Substitute CTE `defs` into `plan`: single-part relation leaves
    * whose name matches a definition become that definition's plan
    * (already wrapped in its own alias), recursively through children
    * and subquery-expression plans. A nested WITH shadows: its own
    * definitions (which may themselves reference the outer scope)
    * hide same-named outer definitions for its child and for later
    * siblings in its list.
    */
  private def cteSubstitute(plan: LogicalPlan,
      defs: Map[String, LogicalPlan]): LogicalPlan =
    if (defs.isEmpty) plan
    else plan match {
      case inner: UnresolvedWith =>
        var scope = defs
        val rels = inner.cteRelations.map { case (n, a, x) =>
          val sub = SubqueryAlias(a.identifier, cteSubstitute(a.child, scope))
          scope -= n.toLowerCase
          (n, sub, x)
        }
        UnresolvedWith(cteSubstitute(inner.child, scope), rels,
          inner.allowRecursion)
      case UnresolvedRelation(parts, _, _) if parts.length == 1 &&
          defs.contains(parts.head.toLowerCase) =>
        defs(parts.head.toLowerCase)
      case other =>
        val kids = other.withNewChildren(
          other.children.map(cteSubstitute(_, defs)))
        kids.transformExpressions {
          case sq: SubqueryExpression =>
            sq.withNewPlan(cteSubstitute(sq.plan, defs))
        }
    }

  /** Positionally rename + store-assign-cast a query's output to the
    * committed schema — shared by INSERT's bare form and REPLACE
    * WHERE so their alignment semantics can never diverge.
    */
  private def alignPositional(data: DataFrame,
      committed: org.apache.spark.sql.types.StructType,
      hint: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    if (data.columns.length != committed.length)
      fail(s"query produces ${data.columns.length} columns; " +
        s"the table has ${committed.length}$hint")
    data.toDF(committed.fieldNames.toSeq: _*)
      .select(committed.fields.toSeq.map(f =>
        col(f.name).cast(f.dataType).as(f.name)): _*)
  }

  /** Innermost single-part relation name of a DML target plan. */
  private def relationName(plan: LogicalPlan): Option[String] = plan match {
    case SubqueryAlias(_, child) => relationName(child)
    case UnresolvedRelation(parts, _, _) if parts.length == 1 =>
      Some(parts.head.toLowerCase)
    case _ => None
  }

  /** Run a committing op on the table at `dir` and refresh the
    * registered views that tracked the pre-statement head. Returns the
    * statement's result frame, built by `frame` from the op's result.
    */
  private def commit[A](spark: org.apache.spark.sql.SparkSession, dir: String,
      frame: (org.apache.spark.sql.SparkSession, A) => DataFrame)
      (op: VersionedTable => A): DataFrame = {
    val vt = VersionedTable(spark, dir)
    val preHead = vt.currentVersion
    val out = op(vt)
    refreshViews(spark, dir, preHead)
    frame(spark, out)
  }

  /** The single-row `(version int)` result frame. */
  private def versionRow(spark: org.apache.spark.sql.SparkSession, v: Int): DataFrame =
    spark.range(1).select(org.apache.spark.sql.functions.lit(v).as("version"))

  /** Re-point every registered view that is a bare vtable scan of
    * `dir` pinned at `preHead` to the new head — read-your-writes for
    * the view the statement targeted (and any other registration of
    * the same table at head). Time-traveled pins are left alone.
    */
  private def refreshViews(spark: org.apache.spark.sql.SparkSession,
      dir: String, preHead: Int): Unit =
    spark.catalog.listTables().collect().map(_.name).foreach { name =>
      relationOf(spark, name).foreach { r =>
        if (r.dir == dir && r.version == preHead)
          VersionedTable(spark, dir).scan().createOrReplaceTempView(name)
      }
    }

  // ---- CREATE / DROP TABLE (vtable lifecycle) ----------------------

  /** `CREATE TABLE [IF NOT EXISTS] name [SHALLOW|DEEP] CLONE source
    * [VERSION AS OF v] LOCATION '/path'` — Delta's clone statement
    * shape (bare CLONE = deep, like Delta). The source is any
    * [[vtableDir]] spelling; SHALLOW is
    * zero-copy ([[VersionedTable.cloneTo]]), DEEP materializes
    * ([[VersionedTable.deepCloneTo]]); both register `name` like
    * CREATE TABLE. Handled BEFORE Spark's parser (CLONE is not Spark
    * grammar). IF NOT EXISTS downgrades a same-location re-run to a
    * no-op, exactly like CREATE TABLE.
    */
  private val CloneRe =
    ("""(?is)^\s*CREATE\s+TABLE\s+(?:(IF\s+NOT\s+EXISTS)\s+)?([A-Za-z0-9_`]+)\s+""" +
     """(?:(SHALLOW|DEEP)\s+)?CLONE\s+(.+?)""" +
     """(?:\s+VERSION\s+AS\s+OF\s+(\d+|'[A-Za-z_][A-Za-z0-9_.-]*'))?""" +
     """\s+LOCATION\s+('[^']*'|"[^"]*")\s*;?\s*$""").r

  private def createClone(spark: org.apache.spark.sql.SparkSession,
      query: String, register: (String, String) => Unit): Option[DataFrame] = {
    import org.apache.spark.sql.functions.lit
    content(query) match {
      case CloneRe(ine, name0, kind, src, ver, loc) =>
        val name = unquoteIdent(name0.trim)
        val ifNotExists = ine != null
        val shallow = kind != null && kind.equalsIgnoreCase("SHALLOW")
        val kindWord = if (shallow) "SHALLOW CLONE" else "CLONE"
        // a statement that FORGOT the table name would otherwise bind
        // SHALLOW/DEEP as the name and kind=null would run a full
        // data-copying deep clone under a bogus registration
        if (!name0.trim.startsWith("`") &&
            (name.equalsIgnoreCase("SHALLOW") || name.equalsIgnoreCase("DEEP")))
          fail(s"CREATE TABLE … CLONE: '$name' reads like a missing table " +
            "name (backtick-quote it if it really is the name)")
        val location = unquotePath(loc.trim).getOrElse(fail(
          s"CREATE TABLE … $kindWord needs LOCATION '/abs/path'"))
        def norm(p: String): String =
          try java.nio.file.Paths.get(p).toAbsolutePath.normalize.toString
          catch { case scala.util.control.NonFatal(_) => p }
        if (spark.catalog.tableExists(name)) {
          if (!ifNotExists) fail(
            s"CREATE TABLE: `$name` is already registered — " +
              "DROP TABLE it or use IF NOT EXISTS")
          relationOf(spark, name).map(_.dir) match {
            case Some(d) if norm(d) != norm(location) => fail(
              s"CREATE TABLE IF NOT EXISTS: `$name` is registered at $d, " +
                s"not $location — drop it or use the registered location")
            case None => fail(
              s"CREATE TABLE IF NOT EXISTS: `$name` exists but is not a " +
                "vtable registration; pick another name")
            case _ => ()
          }
          return Some(spark.range(1).select(
            lit(VersionedTable(spark, location).currentVersion).as("version")))
        }
        val srcDir = vtableDir(spark, src, "CLONE source")
        val dest = VersionedTable(spark, location)
        val v =
          if (dest.currentVersion == 0) {
            val srcVt = VersionedTable(spark, srcDir)
            // the pin is a commit number or a quoted TAG name — cloning
            // the blessed snapshot by name
            val pin = Option(ver).map { v =>
              v.toIntOption.getOrElse {
                val tag = v.stripPrefix("'").stripSuffix("'")
                srcVt.tagVersion(tag).getOrElse(fail(
                  s"CLONE VERSION AS OF: '$tag' is not a tag of the source " +
                    s"(tags: ${srcVt.tagNames.mkString(", ")})"))
              }
            }.getOrElse(-1)
            (if (shallow) srcVt.cloneTo(location, pin)
             else srcVt.deepCloneTo(location, pin)).currentVersion
          }
          else if (ifNotExists && dest.commitOp(1).contains("clone")) {
            // attach ONLY a table that verifiably began life as a
            // clone OF THE REQUESTED SOURCE — the clone commit records
            // its source dir (+ pinned version), and a re-run pointed
            // at a different source (or a different VERSION AS OF)
            // must fail rather than silently register the wrong table
            // as the requested clone. Pre-provenance clones (older
            // manifests) have nothing to check and attach as before.
            dest.cloneProvenance(1).foreach { case (recSrc, recVer) =>
              if (recSrc != norm(srcDir)) fail(
                s"CREATE TABLE IF NOT EXISTS … $kindWord: $location was " +
                  s"cloned from $recSrc, not ${norm(srcDir)} — refusing to " +
                  "attach it as a clone of a different source")
              Option(ver).map(_.toInt).foreach { pin =>
                if (pin != recVer) fail(
                  s"CREATE TABLE IF NOT EXISTS … $kindWord: $location holds " +
                    s"a clone of source version $recVer, not the requested " +
                    s"VERSION AS OF $pin")
              }
            }
            // IF NOT EXISTS is the re-run idempotence hatch,
            // never license to adopt arbitrary pre-existing data as
            // if it were the requested clone. The attach COMPLETES a
            // torn run: a DEEP request materializes any external refs
            // still present (crash between the two deep commits), and
            // the CDF property re-carries (crash between marker and
            // commit on a pre-marker-ordering table) — both idempotent
            if (VersionedTable(spark, srcDir).cdfEnabled) dest.enableCdf()
            if (shallow) dest.currentVersion else dest.materializeExternal()
          }
          else if (ifNotExists) fail(
            s"CREATE TABLE IF NOT EXISTS … $kindWord: $location holds " +
              "a committed table whose first commit is not a clone — " +
              "refusing to attach it as one")
          else fail(
            s"CREATE TABLE … $kindWord: $location already holds a " +
              "committed versioned table — register it instead, or IF NOT " +
              "EXISTS to attach")
        register(name, location)
        Some(spark.range(1).select(lit(v).as("version")))
      case _ => None
    }
  }

  /** `CREATE TABLE [IF NOT EXISTS] name [(col TYPE, …)] USING vtable
    * LOCATION '/path' [AS query]`: creates a versioned table at the
    * path and registers `name` over it (durably, via the service's
    * registry — the `register` callback). CTAS appends the query
    * result as version 1; a column list commits an EMPTY version 1
    * carrying the declared schema, so DML and constraints have a
    * schema to bind to immediately. A location already holding a
    * committed table refuses (IF NOT EXISTS downgrades to
    * register-only attach); partitioning clauses refuse (the vtable
    * has no partition concept — clustering is OPTIMIZE ZORDER's job).
    * Statements with a different/absent USING provider fall through
    * to Spark untouched.
    */
  private[service] def createVTable(spark: org.apache.spark.sql.SparkSession,
      query: String, register: (String, String) => Unit): Option[DataFrame] = {
    createClone(spark, query, register).foreach(df => return Some(df))
    val plan =
      try spark.sessionState.sqlParser.parsePlan(query)
      catch { case _: org.apache.spark.sql.catalyst.parser.ParseException =>
        return None
      }
    def vtSpec(ts: org.apache.spark.sql.catalyst.plans.logical.TableSpecBase)
        : Option[org.apache.spark.sql.catalyst.plans.logical.UnresolvedTableSpec] = ts match {
      case u: org.apache.spark.sql.catalyst.plans.logical.UnresolvedTableSpec if u.provider.exists(_.equalsIgnoreCase("vtable")) =>
        Some(u)
      case _ => None
    }
    def nameOf(p: LogicalPlan): Option[String] = p match {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedIdentifier
          if u.nameParts.length == 1 => Some(u.nameParts.head)
      case _ => None
    }
    def run(namePlan: LogicalPlan,
        spec: org.apache.spark.sql.catalyst.plans.logical.UnresolvedTableSpec,
        partitioning: Seq[org.apache.spark.sql.connector.expressions.Transform],
        ifNotExists: Boolean,
        body: VersionedTable => Int): Option[DataFrame] =
      nameOf(namePlan).map { name =>
        if (partitioning.nonEmpty) fail(
          "CREATE TABLE USING vtable: PARTITIONED BY is not supported " +
            "(clustering is OPTIMIZE ZORDER BY's job)")
        val location = spec.location.getOrElse(fail(
          "CREATE TABLE USING vtable needs LOCATION '/abs/path' " +
            "(tables are path-addressed; the name is the catalog handle)"))
        if (spark.catalog.tableExists(name)) {
          if (!ifNotExists) fail(
            s"CREATE TABLE: `$name` is already registered — " +
              "DROP TABLE it or use IF NOT EXISTS")
          // IF NOT EXISTS no-ops against the REGISTERED table — but a
          // different LOCATION in the statement means the caller
          // believes that path holds the table, and a silent no-op
          // would leave them pointed at nothing: surface the mismatch
          // compare NORMALIZED paths: '/data/t/' and '/data/t' are the
          // same directory, and IF NOT EXISTS must stay idempotent for
          // a re-run spelling the location differently
          def norm(p: String): String =
            try java.nio.file.Paths.get(p).toAbsolutePath.normalize.toString
            catch { case scala.util.control.NonFatal(_) => p }
          val registered = relationOf(spark, name).map(_.dir)
          registered match {
            case Some(d) if norm(d) != norm(location) => fail(
              s"CREATE TABLE IF NOT EXISTS: `$name` is registered at $d, " +
                s"not $location — drop it or use the registered location")
            case None => fail(
              s"CREATE TABLE IF NOT EXISTS: `$name` exists but is not a " +
                "vtable registration; pick another name")
            case _ => ()
          }
          import org.apache.spark.sql.functions.lit
          return Some(spark.range(1).select(
            lit(VersionedTable(spark, location).currentVersion).as("version")))
        }
        val vt = VersionedTable(spark, location)
        val v =
          if (vt.currentVersion == 0) body(vt)
          else if (ifNotExists) vt.currentVersion // attach the existing table
          else fail(
            s"CREATE TABLE: $location already holds a committed versioned " +
              "table — register it instead, or IF NOT EXISTS to attach")
        register(name, location)
        import org.apache.spark.sql.functions.lit
        spark.range(1).select(lit(v).as("version"))
      }
    plan match {
      case c: org.apache.spark.sql.catalyst.plans.logical.CreateTableAsSelect =>
        vtSpec(c.tableSpec).flatMap(spec =>
          run(c.name, spec, c.partitioning, c.ignoreIfExists,
            vt => vt.append(GraftSqlBridge.ofRows(spark, c.query))))
      case c: org.apache.spark.sql.catalyst.plans.logical.CreateTable =>
        vtSpec(c.tableSpec).flatMap { spec =>
          run(c.name, spec, c.partitioning, c.ignoreIfExists, { vt =>
            if (c.columns.isEmpty) fail(
              "CREATE TABLE USING vtable needs a column list or AS query " +
                "(the schema-bearing first commit)")
            val schema = org.apache.spark.sql.types.StructType(c.columns.map(cd =>
              org.apache.spark.sql.types.StructField(cd.name, cd.dataType, cd.nullable)))
            vt.append(spark.createDataFrame(
              new java.util.ArrayList[org.apache.spark.sql.Row](), schema))
          })
        }
      case _ => None
    }
  }

  /** `DROP TABLE [IF EXISTS] name` against a REGISTERED vtable view:
    * unregisters the name from the live session and the durable
    * registry. The table directory is untouched — external-table
    * semantics; data deletion belongs to vacuum/storage tooling, and
    * `PURGE` refuses loudly to say so. Non-vtable names fall through
    * to Spark's own DROP TABLE surface.
    */
  private[service] def dropVTable(spark: org.apache.spark.sql.SparkSession,
      query: String, unregister: String => Boolean): Option[DataFrame] = {
    val plan =
      try spark.sessionState.sqlParser.parsePlan(query)
      catch { case _: org.apache.spark.sql.catalyst.parser.ParseException =>
        return None
      }
    plan match {
      case d: org.apache.spark.sql.catalyst.plans.logical.DropTable =>
        val name = d.child match {
          case u: org.apache.spark.sql.catalyst.analysis.UnresolvedIdentifier
              if u.nameParts.length == 1 => u.nameParts.head
          case _ => return None
        }
        if (relationOf(spark, name).isEmpty) return None // not a vtable view
        if (d.purge) fail(
          "DROP TABLE … PURGE is not supported: dropping unregisters the " +
            "name only; delete data with vacuum or storage tooling")
        val existed = unregister(name)
        import org.apache.spark.sql.functions.lit
        Some(spark.range(1).select(lit(name).as("dropped"),
          lit(existed).as("existed")))
      case _ => None
    }
  }

  // ---- branches and tags as SQL ------------------------------------

  // branch statements are NOT Spark grammar — text-routed like the
  // maintenance verbs, BEFORE the parse (whose ParseException would
  // otherwise swallow them)
  private val CreateBranchRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+(.+?)\s+CREATE\s+BRANCH\s+""" +
      """([A-Za-z_][A-Za-z0-9_-]*)(?:\s+VERSION\s+AS\s+OF\s+(\d+))?\s*;?\s*$""").r
  private val DropBranchRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+(.+?)\s+DROP\s+BRANCH\s+""" +
      """([A-Za-z_][A-Za-z0-9_-]*)\s*;?\s*$""").r
  private val MergeBranchRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+(.+?)\s+MERGE\s+BRANCH\s+""" +
      """([A-Za-z_][A-Za-z0-9_-]*)\s+KEY\s+([A-Za-z0-9_`]+)""" +
      """(\s+FORCE)?(\s+DROP)?\s*;?\s*$""").r
  private val CreateTagRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+(.+?)\s+CREATE\s+TAG\s+""" +
      """([A-Za-z_][A-Za-z0-9_.-]*)(?:\s+VERSION\s+AS\s+OF\s+(\d+))?""" +
      """(?:\s+COMMENT\s+'((?:[^']|'')*)')?\s*;?\s*$""").r
  private val DropTagRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+(.+?)\s+DROP\s+TAG\s+""" +
      """([A-Za-z_][A-Za-z0-9_.-]*)\s*;?\s*$""").r

  // ---- materialized views as SQL -----------------------------------

  // text-routed like the branch/maintenance verbs: Spark has no
  // MATERIALIZED VIEW grammar, so these wrap BEFORE the parse
  private val CreateMvRe =
    ("""(?is)^\s*CREATE\s+MATERIALIZED\s+VIEW\s+([A-Za-z0-9_`]+)\s+""" +
      """LOCATION\s+'([^']+)'\s+AS\s+(SELECT\s.+?)\s*;?\s*$""").r
  private val RefreshMvRe =
    """(?is)^\s*REFRESH\s+MATERIALIZED\s+VIEW\s+(.+?)\s*;?\s*$""".r
  private val DropMvRe =
    """(?is)^\s*DROP\s+MATERIALIZED\s+VIEW\s+(.+?)\s*;?\s*$""".r

  // session-scoped name → viewDir roster so REFRESH/DROP resolve a
  // bare name on the plain-parser path; the service ADDITIONALLY
  // records the durable `mview` catalog source, so names survive a
  // service restart there
  private val mvRoster = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def mvKey(spark: org.apache.spark.sql.SparkSession, name: String) =
    s"${System.identityHashCode(spark)}/${name.toLowerCase}"

  /** Materialized views over SQL (the IVM engine of
    * [[graft.sources.MaterializedView]] behind DDL verbs):
    *
    *   CREATE MATERIALIZED VIEW name LOCATION '/dir' AS
    *     SELECT g1, …, count(*) AS n, sum(x) AS sx FROM src GROUP BY g1, …
    *       → build + initial refresh + register; result = (view, version)
    *   REFRESH MATERIALIZED VIEW name | '/dir' → O(delta) refresh +
    *       re-register; result = (version)
    *   DROP MATERIALIZED VIEW name → unregister (state storage is
    *       deliberately kept — it is a table; remove the dir to reclaim);
    *       result = (dropped)
    *
    * The body is restricted to what incremental maintenance can hold:
    * plain group columns plus aliased ALGEBRAIC aggregates (count(*) /
    * sum / min / max / avg) over single columns of one registered
    * vtable view — anything holistic fails loudly at CREATE, not
    * wrongly at refresh.
    */
  private[service] def mvStmt(query: String,
      svc: Option[QueryService]): Option[TextStmt] = {
    import org.apache.spark.sql.functions.lit
    // the service records a durable `mview` catalog source; a bare
    // session gets a temp view
    def register(name: String, dir: String,
        mv: graft.sources.MaterializedView): Unit = svc match {
      case Some(s) => s.registerSource(name, "mview", dir); ()
      case None    => mv.read().createOrReplaceTempView(name)
    }
    content(query) match {
      case CreateMvRe(name0, loc, select) =>
        Some(columns("view STRING NOT NULL, " + VersionCols) -> { spark =>
          val name = unquoteIdent(name0)
          val (srcDir, group, aggs) = parseMvDef(spark, select)
          val mv = graft.sources.MaterializedView(spark, loc, srcDir, group, aggs)
          val v = mv.refresh()
          register(name, loc, mv)
          mvRoster.put(mvKey(spark, name), loc)
          spark.range(1).select(lit(name).as("view"), lit(v).as("version"))
        })
      case RefreshMvRe(target) => Some(columns(VersionCols) -> { spark =>
        val (nameOpt, dir) = mvTarget(spark, target, svc)
        val mv = graft.sources.MaterializedView.load(spark, dir)
        val v = mv.refresh()
        // re-register so readers of the NAME see the refreshed state
        // (registrations pin their snapshot, same as vtable views).
        // The '/dir' path form reverse-looks-up every name registered
        // for that directory — without it a path-form refresh advanced
        // the stored state while named readers silently kept serving
        // the pre-refresh pinned snapshot
        val names: Seq[String] = nameOpt match {
          case Some(n) => Seq(n)
          case None =>
            val canon = java.nio.file.Paths.get(dir)
              .toAbsolutePath.normalize.toString
            def canonOf(p: String) =
              java.nio.file.Paths.get(p).toAbsolutePath.normalize.toString
            import scala.jdk.CollectionConverters._
            val prefix = s"${System.identityHashCode(spark)}/"
            val fromRoster = mvRoster.entrySet().asScala
              .filter(e => e.getKey.startsWith(prefix) && canonOf(e.getValue) == canon)
              .map(_.getKey.stripPrefix(prefix)).toSeq
            val fromCatalog = svc.toSeq.flatMap(_.catalogEntries
              .filter(e => e.kind == "source" && e.format == "mview" &&
                canonOf(e.path) == canon)
              .map(_.name))
            (fromRoster ++ fromCatalog).distinct
        }
        names.foreach(register(_, dir, mv))
        spark.range(1).select(lit(v).as("version"))
      })
      case DropMvRe(target) => Some(columns("dropped BOOLEAN NOT NULL") -> { spark =>
        val name = unquoteIdent(target.trim)
        val known = mvRoster.remove(mvKey(spark, name)) != null
        val existed = svc match {
          case Some(s) => s.unregister(name)
          case None    => spark.catalog.dropTempView(name)
        }
        spark.range(1).select(lit(existed || known).as("dropped"))
      })
      case _ => None
    }
  }

  /** Resolve a REFRESH target: a quoted '/dir' path, or a name known
    * to the session roster / the service's durable catalog.
    */
  private def mvTarget(spark: org.apache.spark.sql.SparkSession, target0: String,
      svc: Option[QueryService]): (Option[String], String) = {
    val t = target0.trim
    unquotePath(t) match {
      case Some(p) => (None, p)
      case None =>
        val name = unquoteIdent(t)
        val dir = Option(mvRoster.get(mvKey(spark, name)))
          .orElse(svc.flatMap(_.catalogEntries.find(e =>
            e.kind == "source" && e.format == "mview" &&
              e.name.equalsIgnoreCase(name)).map(_.path)))
          .getOrElse(fail(s"'$name' is not a known materialized view " +
            "(CREATE it here, or refresh by its '/dir' path)"))
        (Some(name), dir)
    }
  }

  /** Parse + restrict a materialized-view body to the maintainable
    * shape; returns (source table dir, group columns, aggregates).
    */
  private def parseMvDef(spark: org.apache.spark.sql.SparkSession,
      select0: String): (String, Seq[String], Seq[graft.sources.MvAgg]) = {
    import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedAttribute, UnresolvedFunction, UnresolvedStar}
    import graft.sources.MvAgg
    // `FROM src BRANCH 'b'` lowers to `VERSION AS OF 'b'` here too —
    // the injected-parser path arrives pre-rewritten (idempotent), the
    // service path raw
    val select = rewriteBranchReads(select0)
    val shapeMsg = "materialized view body must be: SELECT <group cols>, " +
      "<count(*)|sum|min|max|avg(col) AS alias>… FROM <registered vtable view> " +
      "[BRANCH 'b'] GROUP BY <group cols> (no ORDER BY/HAVING/joins — the " +
      "state is a table)"
    // the VANILLA parser, deliberately: an injected-parser session
    // would substitute the VERSION AS OF node at parse time (pinning
    // the scan), and this definition needs the RAW named ref to
    // classify it as live-branch vs frozen-pin
    val plan =
      try org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parsePlan(select)
      catch { case e: org.apache.spark.sql.catalyst.parser.ParseException =>
        fail(s"$shapeMsg: ${e.getMessage}")
      }
    plan match {
      case agg: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
        // a `VERSION AS OF` child is an MV over a NAMED REF: a live
        // branch resolves to the branch's own table (it has its own
        // commit log, so IVM works unchanged); a tag or numeric pin
        // never changes, so materializing it is a plain CTAS — refuse
        // with that guidance instead of failing wrongly at refresh
        val (src, refOpt) = agg.child match {
          case UnresolvedRelation(parts, _, _) if parts.length == 1 =>
            (parts.head, None)
          case SubqueryAlias(_, UnresolvedRelation(parts, _, _)) if parts.length == 1 =>
            (parts.head, None)
          case RelationTimeTravel(UnresolvedRelation(parts, _, _), None, Some(v))
              if parts.length == 1 => (parts.head, Some(v))
          case SubqueryAlias(_,
              RelationTimeTravel(UnresolvedRelation(parts, _, _), None, Some(v)))
              if parts.length == 1 => (parts.head, Some(v))
          case _ => fail(shapeMsg)
        }
        val parentDir = resolveVTable(spark, src).getOrElse(fail(
          s"materialized view source '$src' must be a registered vtable " +
            "view (IVM rides the versioned table's commit log)"))
        val srcDir = refOpt match {
          case None => parentDir
          case Some(ref) =>
            val pv = VersionedTable(spark, parentDir)
            if (ref.toIntOption.isDefined || pv.tagVersion(ref).isDefined)
              fail(s"materialized view source '$src VERSION AS OF $ref' is a " +
                "frozen pin — it never changes, so materialize it once with " +
                "CREATE TABLE ... AS instead; an MV follows a LIVE ref " +
                "(the table head or a branch)")
            if (!pv.branchNames.contains(ref))
              fail(s"'$ref' is not a live branch of '$src' (branches: " +
                s"${pv.branchNames.mkString(", ")})")
            pv.branch(ref).dir
        }
        val group = agg.groupingExpressions.map {
          case a: UnresolvedAttribute if a.nameParts.length == 1 => a.nameParts.head
          case other => fail(s"GROUP BY must list plain columns, got ${other.sql}")
        }
        val aggs = agg.aggregateExpressions.flatMap {
          case a: UnresolvedAttribute
              if a.nameParts.length == 1 && group.contains(a.nameParts.head) => None
          case al @ Alias(f: UnresolvedFunction, _) =>
            if (f.isDistinct) fail(
              "DISTINCT aggregates are holistic (no mergeable partial state) " +
                "— not incrementally maintainable")
            val fn = f.nameParts.map(_.toLowerCase).mkString(".")
            def col1: String = f.arguments match {
              case Seq(a: UnresolvedAttribute) if a.nameParts.length == 1 =>
                a.nameParts.head
              case _ => fail(s"$fn takes one plain column here, got ${f.sql}")
            }
            Some(fn match {
              case "count" => f.arguments match {
                case Seq() | Seq(_: UnresolvedStar) => MvAgg.Count(al.name)
                case Seq(Literal(1, _)) => MvAgg.Count(al.name)
                case _ => fail("only count(*) / count(1) is maintainable " +
                  "(count(col) skips nulls — filter the nulls in a view first)")
              }
              case "sum" => MvAgg.Sum(col1, al.name)
              case "min" => MvAgg.Min(col1, al.name)
              case "max" => MvAgg.Max(col1, al.name)
              case "avg" | "mean" => MvAgg.Avg(col1, al.name)
              case other => fail(s"aggregate '$other' has no mergeable partial " +
                "state — a materialized view holds count/sum/min/max/avg only")
            })
          case other => fail(s"$shapeMsg (got ${other.sql})")
        }
        if (aggs.isEmpty) fail("materialized view needs at least one aggregate")
        (srcDir, group, aggs)
      case _ => fail(shapeMsg)
    }
  }

  /** Branch and tag lifecycle as SQL (Iceberg's ALTER TABLE … BRANCH
    * shape):
    *
    *   ALTER TABLE t CREATE BRANCH b [VERSION AS OF v] → createBranch; result = (branch, fork_version)
    *   ALTER TABLE t DROP BRANCH b → dropBranch; result = (dropped)
    *   ALTER TABLE t MERGE BRANCH b KEY k [FORCE] [DROP] → mergeBranch; result = (version)
    *   ALTER TABLE t CREATE TAG n [VERSION AS OF v] [COMMENT '…'] → createTag; result = (tag, version)
    *   ALTER TABLE t DROP TAG n → dropTag; result = (dropped)
    *   DESCRIBE BRANCHES t / DESCRIBE TAGS t → the rosters (see [[describeMeta]])
    *
    * All ride the ALTER verb, which the auth gate already classifies as
    * a mutation. Create/drop never bump the parent's version; the
    * service bumps its DDL nonce for every command it runs, so a cached
    * DESCRIBE BRANCHES or DESCRIBE TAGS can't serve a stale roster.
    */
  private[service] def branchStmt(query: String): Option[TextStmt] = {
    import org.apache.spark.sql.functions.lit
    def table(spark: SparkSession, target: String): VersionedTable =
      VersionedTable(spark, vtableDir(spark, target, "ALTER TABLE"))
    val dropped = columns("dropped BOOLEAN NOT NULL")
    content(query) match {
      case CreateBranchRe(target, name, ver) =>
        Some(columns("branch STRING NOT NULL, fork_version INT NOT NULL") -> { spark =>
          val bt = table(spark, target).createBranch(name,
            Option(ver).map(_.toInt).getOrElse(-1))
          spark.range(1).select(lit(name).as("branch"),
            lit(bt.cloneProvenance(1).map(_._2).getOrElse(-1)).as("fork_version"))
        })
      case DropBranchRe(target, name) => Some(dropped -> (spark =>
        spark.range(1).select(lit(table(spark, target).dropBranch(name)).as("dropped"))))
      case MergeBranchRe(target, name, key, force, drop) =>
        Some(columns(VersionCols) -> (spark =>
          commit(spark, vtableDir(spark, target, "ALTER TABLE"), versionRow)(
            _.mergeBranch(name, unquoteIdent(key),
              force = force != null, dropAfter = drop != null))))
      // immutable tags: never bump the table's version
      case CreateTagRe(target, name, ver, msg) =>
        Some(columns("tag STRING NOT NULL, " + VersionCols) -> { spark =>
          // COMMENT 'why this version is blessed' rides in the pin file
          val v = table(spark, target).createTag(name,
            Option(ver).map(_.toInt).getOrElse(-1),
            Option(msg).map(_.replace("''", "'")).getOrElse(""))
          spark.range(1).select(lit(name).as("tag"), lit(v).as("version"))
        })
      case DropTagRe(target, name) => Some(dropped -> (spark =>
        spark.range(1).select(lit(table(spark, target).dropTag(name)).as("dropped"))))
      case _ => None
    }
  }

  /** `ALTER TABLE t ADD|RENAME|DROP COLUMN …` against a registered
    * vtable view (or a backtick-quoted table path) routes to the
    * table's metadata-only schema-evolution commits:
    *
    *   - `ADD COLUMN[S] c TYPE[, …]` → [[VersionedTable.addColumn]]
    *     (nullable by construction; FIRST/AFTER, DEFAULT, NOT NULL
    *     and nested paths are refused loudly — the vtable appends
    *     columns and has no defaults)
    *   - `RENAME COLUMN a TO b` → [[VersionedTable.renameColumn]]
    *     (column mapping; data untouched)
    *   - `DROP COLUMN[S] [IF EXISTS] c[, …]` →
    *     [[VersionedTable.dropColumn]] (storage retired; IF EXISTS
    *     skips absent names)
    *
    * plus `ADD CONSTRAINT` (CHECK, UNIQUE) and `DROP CONSTRAINT`. The
    * tree is ALREADY PARSED ([[treeCommand]]'s runner, mirroring
    * [[dmlPlan]]). Any other ALTER form, or a non-vtable target,
    * returns None and keeps Spark's native surface (catalog tables,
    * error messages). Results are the committed version; a
    * multi-column form is one all-or-nothing commit.
    */
  private[service] def alterPlan(spark: org.apache.spark.sql.SparkSession,
      plan: LogicalPlan): Option[DataFrame] = plan match {
    case a: AddColumns =>
      alterDir(spark, a.table).map { dir =>
        val cols = a.columnsToAdd.map { c =>
          if (c.path.nonEmpty) fail(
            "ALTER TABLE ADD COLUMN: nested field paths are not supported on a vtable")
          if (!c.nullable) fail(
            "ALTER TABLE ADD COLUMN: a column added over existing rows must be " +
              "nullable (every existing row reads NULL for it)")
          if (c.position.nonEmpty) fail(
            "ALTER TABLE ADD COLUMN: FIRST/AFTER is not supported (columns append)")
          if (c.default.nonEmpty) fail(
            "ALTER TABLE ADD COLUMN: DEFAULT is not supported on a vtable")
          (c.colName, c.dataType)
        }
        // ONE commit for the whole column list: a per-column loop that
        // failed mid-list would half-apply a statement that errored
        commit(spark, dir, versionRow)(_.addColumns(cols))
      }
    case r: RenameColumn =>
      alterDir(spark, r.table).map { dir =>
        if (r.column.name.length != 1) fail(
          "ALTER TABLE RENAME COLUMN: nested field paths are not supported on a vtable")
        commit(spark, dir, versionRow)(_.renameColumn(r.column.name.head, r.newName))
      }
    case d: DropColumns =>
      alterDir(spark, d.table).map { dir =>
        val names = d.columnsToDrop.map { f =>
          if (f.name.length != 1) fail(
            "ALTER TABLE DROP COLUMN: nested field paths are not supported on a vtable")
          f.name.head
        }
        commit(spark, dir, versionRow) { vt =>
          val present = vt.scan().schema.fieldNames.toSet
          val missing = names.filterNot(present)
          if (missing.nonEmpty && !d.ifExists) fail(
            s"ALTER TABLE DROP COLUMN: no column `${missing.head}` " +
              s"in (${present.toSeq.sorted.mkString(", ")}) — use IF EXISTS to skip")
          val acting = names.filter(present)
          if (acting.isEmpty) vt.currentVersion // IF EXISTS, all absent: no-op
          else vt.dropColumns(acting) // one all-or-nothing commit
        }
      }
    case a: AddCheckConstraint =>
      alterDir(spark, a.child).map { dir =>
        val cc = a.checkConstraint
        val name = Option(cc.userProvidedName).getOrElse(fail(
          "ALTER TABLE ADD CONSTRAINT: a vtable CHECK constraint needs a name"))
        // the add is itself a versioned metadata commit, so the
        // reported version is the one the add claimed — and registered
        // views must follow the head like any other commit, or the
        // NEXT DML's refresh skips them (it only refreshes views
        // pinned at its own pre-op head)
        commit(spark, dir, versionRow) { vt =>
          vt.addConstraint(name, cc.condition)
          vt.currentVersion
        }
      }
    case a: org.apache.spark.sql.catalyst.plans.logical.AddConstraint =>
      alterDir(spark, a.child).map(commit(spark, _, versionRow) { vt =>
        a.tableConstraint match {
          case u: org.apache.spark.sql.catalyst.expressions.UniqueConstraint =>
            // ENFORCED on a vtable (Delta/Iceberg leave UNIQUE
            // informational): every later commit proves no duplicate
            // key, pruned through the per-file stats
            vt.addUniqueConstraint(u.name, u.columns)
          case pk: org.apache.spark.sql.catalyst.expressions.PrimaryKeyConstraint =>
            fail("PRIMARY KEY is not supported on a vtable; declare " +
              s"UNIQUE (${pk.columns.mkString(", ")}) plus a CHECK " +
              "(col IS NOT NULL) constraint — together they are the " +
              "enforced equivalent")
          case other => fail(
            s"unsupported constraint kind on a vtable: ${other.sql} " +
              "(CHECK and UNIQUE are enforced; FOREIGN KEY has no " +
              "single-table enforcement point)")
        }
        vt.currentVersion
      })
    case d: DropConstraint =>
      alterDir(spark, d.table).map(commit(spark, _, versionRow) { vt =>
        if (!vt.dropConstraint(d.name) && !d.ifExists) fail(
          s"ALTER TABLE DROP CONSTRAINT: no constraint `${d.name}` " +
            s"(${vt.constraintList.map(_._1).mkString(", ")}) — use IF EXISTS to skip")
        vt.currentVersion
      })
    case _ => None // other ALTER forms: Spark's own statement surface
  }

  /** An ALTER tree this dispatcher would handle (parse-time probe for
    * the injected parser, mirroring [[isVTableDml]]).
    */
  private[service] def isVTableAlter(spark: org.apache.spark.sql.SparkSession,
      plan: LogicalPlan): Boolean = plan match {
    case a: AddColumns   => alterDir(spark, a.table).isDefined
    case r: RenameColumn => alterDir(spark, r.table).isDefined
    case d: DropColumns  => alterDir(spark, d.table).isDefined
    case a: AddCheckConstraint => alterDir(spark, a.child).isDefined
    case a: org.apache.spark.sql.catalyst.plans.logical.AddConstraint =>
      alterDir(spark, a.child).isDefined
    case d: DropConstraint     => alterDir(spark, d.table).isDefined
    case _ => false
  }

  /** ALTER target → table dir: a single-part [[vtableTarget]] name,
    * where a path must hold a commit log (`_graft_log`) — a name that
    * merely looks path-like falls through to Spark's own error.
    * AddCheckConstraint parses its target UNDER a validation Filter
    * scan (Spark's own enforcement plan shape), so plan wrappers
    * unwrap first.
    */
  private def alterDir(spark: org.apache.spark.sql.SparkSession,
      tbl: LogicalPlan): Option[String] = {
    def named(parts: Seq[String]): Option[String] =
      if (parts.length != 1) None
      else vtableTarget(spark, parts.head).collect {
        case (dir, Some(_)) => dir
        case (dir, None) if java.nio.file.Files.isDirectory(
            java.nio.file.Paths.get(dir, "_graft_log")) => dir
      }
    tbl match {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedTable =>
        named(u.multipartIdentifier)
      case UnresolvedRelation(parts, _, _) => named(parts)
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        alterDir(spark, f.child)
      case s: SubqueryAlias => alterDir(spark, s.child)
      case _ => None
    }
  }

  // ---- target resolution -------------------------------------------

  /** Resolve a DML target plan to (table dir, lowercased qualifier
    * names that may prefix its columns, committed column names). None
    * — fall through to Spark — when the target is not a single-part
    * [[vtableTarget]] name, or is a path with no committed version.
    * A path target is also the lowered form of `t BRANCH 'b'`
    * ([[rewriteBranchWrites]]).
    */
  private def target(spark: org.apache.spark.sql.SparkSession, plan: LogicalPlan)
      : Option[(String, Set[String], Seq[String])] = {
    def walk(p: LogicalPlan, quals: Set[String])
        : Option[(String, Set[String], Seq[String])] = p match {
      case SubqueryAlias(id, child) => walk(child, quals + id.name.toLowerCase)
      case UnresolvedRelation(parts, _, _) if parts.length == 1 =>
        vtableTarget(spark, parts.head).flatMap {
          case (dir, Some(r)) =>
            Some((dir, quals + parts.head.toLowerCase, r.output.map(_.name)))
          case (dir, None) =>
            scala.util.Try(VersionedTable(spark, dir)).toOption
              .filter(_.currentVersion > 0)
              .map(vt => (dir, quals, vt.read().schema.fieldNames.toSeq))
        }
      case _ => None
    }
    walk(plan, Set.empty)
  }

  /** The one naming rule for a SQL statement or table function that
    * addresses a vtable. The target may be quoted as `'…'`, `"…"` or
    * `` `…` ``; once unquoted, an absolute path IS the table
    * directory, and anything else must name a registered view whose
    * analyzed plan is a bare [[VTableRelation]] (one analysis, no log
    * read). Returns the dir plus, for a registered name, its relation.
    * Naming only: whether a path holds a table is each caller's
    * decision.
    */
  private def vtableTarget(spark: org.apache.spark.sql.SparkSession,
      target: String): Option[(String, Option[VTableRelation])] = {
    val t = target.trim
    val name =
      if (t.length >= 2 && "'\"`".contains(t.head) && t.last == t.head)
        t.substring(1, t.length - 1)
      else t
    if (name.startsWith("/")) Some((name, None))
    else relationOf(spark, name).map(r => (r.dir, Some(r)))
  }

  /** [[vtableTarget]]'s directory, or the one resolver error naming
    * the statement or function (`what`) that asked.
    */
  private[graft] def vtableDir(spark: org.apache.spark.sql.SparkSession,
      target: String, what: String): String =
    vtableTarget(spark, target).map(_._1).getOrElse(fail(
      s"$what: '${target.trim}' is not a registered vtable view or an absolute table path"))

  /** A registered name whose analyzed view plan is a bare
    * [[VTableRelation]] → its table dir.
    */
  private[service] def resolveVTable(spark: org.apache.spark.sql.SparkSession,
      name: String): Option[String] =
    relationOf(spark, name).map(_.dir)

  private def relationOf(spark: org.apache.spark.sql.SparkSession,
      name: String): Option[VTableRelation] = {
    def bare(p: LogicalPlan): Option[VTableRelation] = p match {
      case r: VTableRelation   => Some(r)
      case s: SubqueryAlias    => bare(s.child)
      case v: View             => bare(v.child)
      case _                   => None
    }
    try bare(spark.table(name).queryExecution.analyzed)
    catch { case _: org.apache.spark.sql.AnalysisException => None }
  }

  private def aliasesOf(plan: LogicalPlan): Set[String] = plan match {
    case SubqueryAlias(id, child) => aliasesOf(child) + id.name.toLowerCase
    case UnresolvedRelation(parts, _, _) if parts.length == 1 =>
      Set(parts.head.toLowerCase)
    case _ => Set.empty
  }

  // ---- expression plumbing -----------------------------------------

  /** Strip known table/alias qualifiers so the expression resolves
    * against the table's own frame inside the vtable rewrite.
    */
  private def strip(e: Expression, quals: Set[String]): Expression =
    e.transform {
      case a: UnresolvedAttribute if a.nameParts.length > 1 &&
          quals.contains(a.nameParts.head.toLowerCase) =>
        UnresolvedAttribute(a.nameParts.tail)
    }

  /** Plain single-column reference (after qualifier stripping), or
    * None for anything nested/computed.
    */
  private def colName(e: Expression, quals: Set[String]): Option[String] =
    strip(e, quals) match {
      case a: UnresolvedAttribute if a.nameParts.length == 1 => Some(a.nameParts.head)
      case _ => None
    }

  private def toColumn(e: Expression): Column = GraftSqlBridge.column(e)

  private def noSubquery(e: Expression, verb: String): Unit =
    if (e.exists(_.isInstanceOf[SubqueryExpression]))
      fail(s"$verb on a versioned table does not support subqueries in " +
        "conditions or assignments; materialize the subquery as a " +
        "registered view and MERGE/DELETE against it by key")

  private def fail(msg: String): Nothing = throw new IllegalArgumentException(msg)

  // ---- MERGE shape classification ----------------------------------

  private sealed trait MergeForm
  private case object Upsert extends MergeForm
  private case object DeleteAll extends MergeForm
  private case object General extends MergeForm

  /** `ON a.k = b.k` (same column name both sides, any qualifiers) →
    * the committed-case key column name.
    */
  private def mergeKey(cond: Expression, quals: Set[String], cols: Seq[String])
      : String = cond match {
    case EqualTo(l: UnresolvedAttribute, r: UnresolvedAttribute)
        if l.nameParts.last.equalsIgnoreCase(r.nameParts.last) =>
      val n = l.nameParts.last
      cols.find(_.equalsIgnoreCase(n)).getOrElse(fail(
        s"MERGE key '$n' is not a column of the target table (${cols.mkString(", ")})"))
    case other => fail(
      s"MERGE ON must be a single same-name key equality (t.k = s.k), got: ${other.sql}")
  }

  /** Every assignment is `col = src.col` for the SAME name, and the
    * assigned set covers the full committed schema — the only explicit
    * list equivalent to `SET *` / `INSERT *` under whole-row
    * replacement semantics.
    */
  private def identityCovering(assigns: Seq[Assignment], quals: Set[String],
      cols: Seq[String]): Boolean = {
    val assigned = assigns.flatMap { case Assignment(k, v) =>
      for {
        kn <- colName(k, quals)
        vn <- colName(v, quals)
        if kn.equalsIgnoreCase(vn)
      } yield kn.toLowerCase
    }
    assigned.length == assigns.length &&
      assigned.toSet == cols.map(_.toLowerCase).toSet
  }

  /** Pick the cheapest lowering: the two canonical shapes go straight
    * to the single-purpose table ops (pruned join built in, no
    * full-outer evaluation pass); everything else compiles through
    * [[generalMerge]].
    */
  private def mergeForm(m: MergeIntoTable, quals: Set[String], cols: Seq[String])
      : MergeForm = {
    // WITH SCHEMA EVOLUTION always takes the general path — it
    // pre-evolves the committed schema (generalMerge), after which
    // the canonical fast paths' schema-match preconditions no longer
    // describe the statement
    if (m.withSchemaEvolution) return General
    (m.matchedActions.toList, m.notMatchedActions.toList,
        m.notMatchedBySourceActions.toList) match {
      case (List(DeleteAction(None)), Nil, Nil) => DeleteAll
      case (List(matched), List(notMatched), Nil) =>
        val updOk = matched match {
          case UpdateStarAction(None)      => true
          case UpdateAction(None, as, _)   => identityCovering(as, quals, cols)
          case _                           => false
        }
        val insOk = notMatched match {
          case InsertStarAction(None)      => true
          case InsertAction(None, as)      => identityCovering(as, quals, cols)
          case _                           => false
        }
        if (updOk && insOk) Upsert else General
      case _ => General
    }
  }

  // ---- general MERGE lowering --------------------------------------

  /** Full MERGE semantics — clause conditions, partial-column updates,
    * multiple WHEN clauses in order, WHEN NOT MATCHED BY SOURCE —
    * compiled into ONE [[VersionedTable.applyChanges]] commit.
    *
    * Evaluation: one full-outer join of the target snapshot and the
    * source (both aliased exactly as the statement aliased them, so
    * the parsed clause expressions resolve unmodified), membership
    * markers split it into matched / not-matched / not-matched-by-
    * source branches, and per branch a CASE over the clause
    * conditions picks the FIRST matching clause (SQL's order
    * semantics). Each acting row becomes one change-batch row — the
    * full post-image for UPDATE/INSERT (unassigned columns keep the
    * target value for UPDATE, NULL for INSERT), a key-only row for
    * DELETE — and the batch lands as a single copy-on-write commit
    * with MERGE-grade stats+bloom file pruning (only files touched by
    * the batch's keys rewrite). Rows matching no clause are absent
    * from the batch and stay untouched.
    *
    * Keyed-upsert representability is enforced, not assumed: an
    * ACTING key with multiple matched pairs (duplicate source or
    * target keys), or multiple acting change rows per key, raises the
    * standard MERGE cardinality error instead of silently collapsing
    * rows; a multi-matched key where no clause acts passes (Delta's
    * semantics). NULL change keys raise a dedicated error — NULL
    * never equi-matches, so the keyed lowering cannot represent them.
    * The checks ride the change batch as window counts + raise_error
    * guards, evaluated inside applyChanges' input-pinning job — ONE
    * pass, no separate validation job.
    *
    * USER-VISIBLE CONSEQUENCE of the NULL-key guard: a target that
    * already holds NULL-key rows fails the WHOLE statement whenever a
    * `WHEN NOT MATCHED BY SOURCE` clause acts on one of those rows
    * (the change row's key IS the target's NULL — earlier versions
    * silently skipped such rows and committed the rest). Failing loud
    * is deliberate: a silent skip on a by-source DELETE means rows
    * the statement promised to delete survive. To merge by-source
    * over such a table, first `DELETE FROM t WHERE key IS NULL` (or
    * scope the by-source clause's condition with `key IS NOT NULL`).
    */
  private def generalMerge(spark: org.apache.spark.sql.SparkSession,
      vt: VersionedTable, m: MergeIntoTable, key: String,
      quals: Set[String]): Int = {
    import org.apache.spark.sql.functions._
    (m.mergeCondition +:
      (m.matchedActions ++ m.notMatchedActions ++ m.notMatchedBySourceActions)
        .flatMap(actionExprs)).foreach(noSubquery(_, "MERGE"))
    val tAlias = aliasHead(m.targetTable)
    val sAlias = aliasHead(m.sourceTable)
    // the source is pinned to ONE evaluation (localCheckpoint): the
    // branches, cardinality checks and batch assembly all re-read it,
    // and a non-deterministic source re-evaluating differently per
    // branch would classify rows inconsistently — same posture as
    // applyChanges' own input pin
    val sFrame = GraftSqlBridge.ofRows(spark, stripAliases(m.sourceTable))
      .localCheckpoint()
    // WITH SCHEMA EVOLUTION: an EMPTY evolving append commits the
    // union schema first (new nullable columns land, shared columns
    // may widen, zero rows move), then the merge proceeds against the
    // evolved schema — old rows read NULL for the added columns, and
    // the batch below can carry them (applyChanges projects upserts
    // to the committed schema, which now includes them)
    if (m.withSchemaEvolution) vt.appendEvolve(sFrame.limit(0))
    val schema = vt.read().schema
    val hasBySource = m.notMatchedBySourceActions.nonEmpty
    // with no BY SOURCE clause the statement is SOURCE-driven: target
    // rows matching no source key can't act, so the evaluation join's
    // target side prunes to the source's key range — Filter-over-
    // marker collapses it to the stats+bloom-pruned file scan, making
    // a sparse MERGE O(touched files) for EVALUATION, not just for
    // the write. (BY SOURCE clauses need every target row; no prune.)
    val tScan =
      if (hasBySource) vt.scan()
      else {
        val b = sFrame.agg(min(col(key)), max(col(key))).head()
        if (b.isNullAt(0)) vt.scan().where(lit(false)) // empty source
        else vt.scan().where(col(key).between(lit(b.get(0)), lit(b.get(1))))
      }
    // markers added BELOW the alias so clause expressions still
    // resolve through the user's qualifiers; marker names are
    // graft-prefixed to dodge data-column collisions
    val t = tScan.withColumn("__graft_t", lit(1)).alias(tAlias)
    val s = sFrame.withColumn("__graft_s", lit(1)).alias(sAlias)
    val joinType = if (hasBySource) "full_outer" else "right_outer"
    val fo = t.join(s, toColumn(m.mergeCondition), joinType)
    // per-target-key matched-pair count, carried through the batch so
    // the cardinality check can evaluate INSIDE applyChanges' input-
    // pinning job instead of as a separate validation job (matched
    // keys are never null — NULL doesn't equi-join — so the window's
    // null partition is vacuous here)
    val pairW = org.apache.spark.sql.expressions.Window
      .partitionBy(col(s"$tAlias.$key"))
    val matched = fo.filter(col("__graft_t").isNotNull && col("__graft_s").isNotNull)
      .withColumn("__graft_paircnt", count(lit(1)).over(pairW))
    val notMatched = fo.filter(col("__graft_t").isNull)
      .withColumn("__graft_paircnt", lit(1L))
    val notMatchedBySrc =
      (if (hasBySource) fo.filter(col("__graft_s").isNull)
       else fo.filter(lit(false)))
        .withColumn("__graft_paircnt", lit(1L))

    def tCol(c: String) = col(s"$tAlias.$c")
    def sCol(c: String) = col(s"$sAlias.$c")
    val CT = VersionedTable.ChangeTypeCol

    /** Rows of `branch` acting under clause list `acts`, compiled to
      * change rows. `defaults` supplies unassigned columns (target
      * values for matched/by-source UPDATEs, NULL for INSERTs).
      */
    def changeRows(branch: DataFrame,
        acts: Seq[org.apache.spark.sql.catalyst.plans.logical.MergeAction],
        defaults: String => Column): Seq[DataFrame] = {
      // first-match clause index; -1 = no clause applies (row no-ops)
      val action = acts.zipWithIndex.foldRight(lit(-1)) { case ((a, i), els) =>
        val c = a.condition.map(toColumn).getOrElse(lit(true))
        when(c, lit(i)).otherwise(els)
      }
      val tagged = branch.withColumn("__graft_act", action)
      acts.zipWithIndex.map { case (a, i) =>
        val rows = tagged.filter(col("__graft_act") === i)
        a match {
          case DeleteAction(_) =>
            rows.select(
              (schema.fields.map { f =>
                (if (f.name == key) coalesce(tCol(key), sCol(key))
                 else lit(null)).cast(f.dataType).as(f.name)
              } :+ lit("delete").as(CT)
                :+ col("__graft_paircnt")).toSeq: _*)
          case _ =>
            // star actions assign the SOURCE's columns (SQL's `SET *`
            // semantics); target columns the source lacks — possible
            // once the schema has evolved past the source — fall to
            // the branch defaults. A source column the TARGET lacks is
            // a loud error for star actions unless WITH SCHEMA
            // EVOLUTION consumed it (a silent drop hides data loss);
            // explicit assignment lists are free to ignore extras
            val assigned: Map[String, Column] = a match {
              case UpdateStarAction(_) | InsertStarAction(_) =>
                val extra = sFrame.columns
                  .filterNot(c => schema.fieldNames.exists(_.equalsIgnoreCase(c)))
                if (extra.nonEmpty)
                  fail(s"MERGE ... SET */INSERT *: source has columns the " +
                    s"target lacks: ${extra.mkString(", ")}; add WITH SCHEMA " +
                    "EVOLUTION to evolve them in, or drop them from the source")
                sFrame.columns.map(c => c.toLowerCase -> sCol(c)).toMap
              case UpdateAction(_, as, _) => assignmentMap(as)
              case InsertAction(_, as)    => assignmentMap(as)
              case other => fail(s"unsupported MERGE action: $other")
            }
            rows.select(
              (schema.fields.map { f =>
                assigned.getOrElse(f.name.toLowerCase, defaults(f.name))
                  .cast(f.dataType).as(f.name)
              } :+ lit("update_postimage").as(CT)
                :+ col("__graft_paircnt")).toSeq: _*)
        }
      }
    }

    val pieces =
      changeRows(matched, m.matchedActions, tCol) ++
        changeRows(notMatched, m.notMatchedActions, _ => lit(null)) ++
        changeRows(notMatchedBySrc, m.notMatchedBySourceActions, tCol)
    val batch0 = pieces.reduceLeft(_.unionByName(_))
    // idempotent duplicate deletes collapse; anything else duplicated
    // is a genuine cardinality violation (duplicate source keys)
    val batchD = batch0.filter(col(CT) === "delete").distinct()
      .unionByName(batch0.filter(col(CT) =!= "delete"))
    // cardinality, folded into the batch itself — the window counts
    // and the raise_error guards evaluate inside applyChanges' input-
    // pinning localCheckpoint job, so validation costs ZERO extra
    // Spark jobs (the old shape re-ran the whole evaluation join in a
    // separate validation pass). Two violation classes, both
    // unrepresentable by a keyed upsert (row-wise SQL MERGE could
    // treat each pair differently): an ACTING key with several
    // matched (target row × source row) pairs — duplicate target or
    // source keys — and several acting change rows per key. A
    // multi-matched key where NO clause acts produces no change row
    // and passes (Delta's semantics: multiple matches only error when
    // the statement would modify the row). NULL change keys get a
    // dedicated error: NULL never equi-matches, so a keyed upsert
    // cannot represent a NULL-key change (several NULL-key inserts
    // are not duplicates of each other — they must not collapse into
    // a spurious duplicate-key error).
    val chgW = org.apache.spark.sql.expressions.Window.partitionBy(col(key))
    val guardMsg = format_string(
      "%s key %s has %d matched row pairs and %d acting changes; " +
        "keyed upsert requires a unique match and one change per key",
      lit(CardinalityTag), col(key).cast("string"),
      col("__graft_paircnt"), col("__graft_chgcnt"))
    val batch = batchD
      .withColumn("__graft_chgcnt", count(lit(1)).over(chgW))
      .withColumn(key,
        when(col(key).isNull, raise_error(lit(NullKeyMsg)))
          .when(col("__graft_paircnt") > 1 || col("__graft_chgcnt") > 1,
            raise_error(guardMsg))
          .otherwise(col(key)))
      .drop("__graft_paircnt", "__graft_chgcnt")
      .withColumn("__graft_seq", lit(1L))
    try vt.applyChanges(batch, key, orderBy = "__graft_seq")
    catch {
      case e: Throwable =>
        // surface the guard's message as the same IllegalArgumentException
        // the rest of the DML surface raises (Spark wraps task-side
        // raise_error in SparkException layers). The INNERMOST matching
        // cause wins, and only the tagged tail of its message is
        // surfaced: an outer stage-failure wrapper embeds the guard text
        // mid-blob ("Job aborted due to stage failure … [USER_RAISED_
        // EXCEPTION] MERGE cardinality: …"), so taking the first match
        // wholesale would surface the verbose wrapper, not the guard.
        val tagged = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(16)
          .map(t => Option(t.getMessage).getOrElse(""))
          .filter(m => m.contains(CardinalityTag) || m.contains(NullKeyTag))
          .toSeq
        tagged.lastOption.foreach { m =>
          // NullKeyTag (the shared constant), not a re-typed literal:
          // a reworded NullKeyMsg must not desync the filter above
          // from this extraction and turn the handler into a
          // StringIndexOutOfBoundsException
          val at = math.max(m.indexOf(CardinalityTag), m.indexOf(NullKeyTag))
          // guard messages are single-line by construction — cut before
          // any wrapper continuation (stack frames on following lines)
          if (at >= 0) fail(m.substring(at).takeWhile(_ != '\n'))
        }
        throw e
    }
  }

  private val CardinalityTag = "MERGE cardinality:"
  // the stable extraction prefix of NullKeyMsg — filter and indexOf
  // both key on it, so rewording the message tail can't desync them
  private val NullKeyTag = "MERGE: NULL merge key"
  private val NullKeyMsg =
    NullKeyTag + " — a keyed upsert cannot represent a NULL-key " +
      "change (NULL never equi-matches); filter NULL keys from the source " +
      "or de-NULL them before merging"

  /** Innermost alias (or relation) name — the qualifier the
    * statement's expressions use for this side.
    */
  private def aliasHead(plan: LogicalPlan): String = plan match {
    case SubqueryAlias(id, _) => id.name
    case UnresolvedRelation(parts, _, _) => parts.last
    case _ => fail("MERGE source must be a (optionally aliased) table or subquery")
  }

  /** Drop the outer aliases — re-aliased after the marker column so
    * the alias covers marker + payload.
    */
  private def stripAliases(plan: LogicalPlan): LogicalPlan = plan match {
    case SubqueryAlias(_, child) => stripAliases(child)
    case other => other
  }

  private def actionExprs(
      a: org.apache.spark.sql.catalyst.plans.logical.MergeAction): Seq[Expression] =
    a.condition.toSeq ++ (a match {
      case UpdateAction(_, as, _) => as.flatMap(x => Seq(x.key, x.value))
      case InsertAction(_, as)    => as.flatMap(x => Seq(x.key, x.value))
      case _                      => Seq.empty
    })

  /** lowercase target column name → value expression (qualifiers kept;
    * they resolve against the aliased join).
    */
  private def assignmentMap(as: Seq[Assignment]): Map[String, Column] =
    as.map { case Assignment(k, v) =>
      val name = k match {
        case a: UnresolvedAttribute => a.nameParts.last.toLowerCase
        case other => fail(s"MERGE assignment target must be a column, got ${other.sql}")
      }
      name -> toColumn(v)
    }.toMap
}

/** Contract query for the SQL DML surface (`q_sql_merge`): the same
  * orders table [[graft.sources.TableMerge]] builds through the Scala
  * API is built here by SUBMITTING SQL TEXT — MERGE INTO (matched
  * update + unmatched insert), UPDATE with arithmetic assignments,
  * and a predicate DELETE, all through [[QueryService.sql]] — then the
  * committed snapshot is read back and aggregated. The DuckDB oracle
  * reproduces merge→update→delete in plain SQL, so statement routing,
  * qualifier stripping, and the three table rewrites are all under
  * the hash gate. Memoized per (session, corpus) like TableMerge
  * (commits are not idempotent).
  */
object SqlDmlDemo {

  private val tables = new graft.util.CorpusMemo[String]()

  private[graft] def builtTable(t: graft.sources.Tables): String =
    tables.getOrBuild(t) {
      import org.apache.spark.sql.functions._
      val parent = graft.util.TempDirs.createWithCleanup("graft-sqldml")
      val dir = parent + "/orders_sql"
      val vt = VersionedTable(t.spark, dir)
      val base = t.orders.select(col("o_orderkey"), col("o_totalprice").as("price"))
      vt.append(base.filter(col("o_orderkey") % 2 === 0))
      // view names unique per (session, corpus) — the service model
      // runs concurrent requests over different corpora
      val suffix = s"${System.identityHashCode(t.spark)}_" +
        t.sfDir.replaceAll("[^A-Za-z0-9]", "_")
      val tgt = s"__graft_sqldml_t_$suffix"
      val src = s"__graft_sqldml_s_$suffix"
      vt.scan().createOrReplaceTempView(tgt)
      base.filter(col("o_orderkey") % 3 === 0)
        .withColumn("price", graft.operators.Rnd.round(col("price") * 1.1, 2))
        .createOrReplaceTempView(src)
      val svc = new QueryService(t.spark)
      svc.sql(s"MERGE INTO `$tgt` AS t USING `$src` AS s " +
        "ON t.o_orderkey = s.o_orderkey " +
        "WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *").collect()
      svc.sql(s"UPDATE `$tgt` SET price = price * 2 WHERE o_orderkey % 5 = 0")
        .collect()
      svc.sql(s"DELETE FROM `$tgt` WHERE price > 400000").collect()
      dir
    }

  def qSqlMerge(t: graft.sources.Tables): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    VersionedTable(t.spark, builtTable(t)).read()
      .agg(count(lit(1)).as("n_rows"),
        graft.operators.Rnd.round(sum("price"), 2).as("total"),
        min("o_orderkey").as("min_k"), max("o_orderkey").as("max_k"))
  }
}

/** Contract query for the GENERAL MERGE lowering (`q_sql_merge_general`):
  * one statement exercising every clause class — conditional matched
  * DELETE, partial-column matched UPDATE mixing t. and s. values,
  * conditional NOT MATCHED INSERT with an explicit column list, and a
  * conditional NOT MATCHED BY SOURCE UPDATE — compiled through
  * [[SqlDml.generalMerge]] into one applyChanges commit. The DuckDB
  * oracle replays the clause algebra as a left-join CASE plus an
  * anti-join insert arm, so first-match clause order, the branch
  * membership split, and the batch commit are all under the hash
  * gate. Memoized per (session, corpus) like [[SqlDmlDemo]].
  */
object SqlMergeGeneralDemo {

  private val tables = new graft.util.CorpusMemo[String]()

  private[graft] def builtTable(t: graft.sources.Tables): String =
    tables.getOrBuild(t) {
      import org.apache.spark.sql.functions._
      val parent = graft.util.TempDirs.createWithCleanup("graft-sqlgm")
      val dir = parent + "/orders_g"
      val vt = VersionedTable(t.spark, dir)
      val base = t.orders.select(col("o_orderkey"), col("o_totalprice").as("price"))
      vt.append(base.filter(col("o_orderkey") % 2 === 0))
      val suffix = s"${System.identityHashCode(t.spark)}_" +
        t.sfDir.replaceAll("[^A-Za-z0-9]", "_")
      val tgt = s"__graft_sqlgm_t_$suffix"
      val src = s"__graft_sqlgm_s_$suffix"
      vt.scan().createOrReplaceTempView(tgt)
      base.filter(col("o_orderkey") % 3 === 0)
        .withColumn("price", graft.operators.Rnd.round(col("price") * 1.1, 2))
        .createOrReplaceTempView(src)
      new QueryService(t.spark).sql(
        s"MERGE INTO `$tgt` AS t USING `$src` AS s " +
          "ON t.o_orderkey = s.o_orderkey " +
          "WHEN MATCHED AND s.price > 200000 THEN DELETE " +
          "WHEN MATCHED THEN UPDATE SET price = t.price + s.price " +
          "WHEN NOT MATCHED AND s.price <= 150000 " +
          "THEN INSERT (o_orderkey, price) VALUES (s.o_orderkey, s.price) " +
          "WHEN NOT MATCHED BY SOURCE AND t.o_orderkey % 7 = 0 " +
          "THEN UPDATE SET price = t.price * 0.5").collect()
      dir
    }

  def qSqlMergeGeneral(t: graft.sources.Tables): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    VersionedTable(t.spark, builtTable(t)).read()
      .agg(count(lit(1)).as("n_rows"),
        graft.operators.Rnd.round(sum("price"), 2).as("total"),
        min("o_orderkey").as("min_k"), max("o_orderkey").as("max_k"))
  }
}

/** Contract query for the SQL INSERT path (`q_sql_insert`): the table
  * is built ENTIRELY by SQL statements — positional `INSERT INTO …
  * SELECT` (evens), a column-list insert that NULL-fills the omitted
  * column (a sentinel row), and `INSERT OVERWRITE … SELECT` replacing
  * everything with the div-3 slice — then the committed snapshot is
  * aggregated. The DuckDB oracle reproduces the final world (only the
  * overwrite survives), so append/overwrite routing, positional
  * renaming, and store-assignment casts are all under the hash gate.
  * Memoized per (session, corpus) like [[SqlDmlDemo]].
  */
object SqlInsertDemo {

  private val tables = new graft.util.CorpusMemo[String]()

  private[graft] def builtTable(t: graft.sources.Tables): String =
    tables.getOrBuild(t) {
      import org.apache.spark.sql.functions._
      val parent = graft.util.TempDirs.createWithCleanup("graft-sqlins")
      val dir = parent + "/orders_ins"
      val vt = VersionedTable(t.spark, dir)
      // seed the schema with one appended row, then everything else
      // happens as SQL text
      vt.append(t.orders.limit(1)
        .select(lit(-1L).as("o_orderkey"), lit(0.0d).as("price")))
      val suffix = s"${System.identityHashCode(t.spark)}_" +
        t.sfDir.replaceAll("[^A-Za-z0-9]", "_")
      val tgt = s"__graft_sqlins_t_$suffix"
      val src = s"__graft_sqlins_o_$suffix"
      vt.scan().createOrReplaceTempView(tgt)
      t.orders.createOrReplaceTempView(src)
      val svc = new QueryService(t.spark)
      svc.sql(s"INSERT INTO `$tgt` " +
        s"SELECT o_orderkey, o_totalprice FROM `$src` WHERE o_orderkey % 2 = 0")
        .collect()
      svc.sql(s"INSERT INTO `$tgt` (o_orderkey) VALUES (-2)").collect()
      svc.sql(s"INSERT OVERWRITE `$tgt` " +
        s"SELECT o_orderkey, o_totalprice FROM `$src` WHERE o_orderkey % 3 = 0")
        .collect()
      dir
    }

  def qSqlInsert(t: graft.sources.Tables): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    VersionedTable(t.spark, builtTable(t)).read()
      .agg(count(lit(1)).as("n_rows"),
        graft.operators.Rnd.round(sum("price"), 2).as("total"),
        min("o_orderkey").as("min_k"), max("o_orderkey").as("max_k"))
  }
}

/** Contract query for SQL WRITES TO A BRANCH (`q_branch_write`): the
  * full SQL-only curation loop — fork (`ALTER TABLE … CREATE
  * BRANCH`), land data ON the fork (`INSERT INTO t BRANCH 'cur'`,
  * `UPDATE … BRANCH 'cur'`, `DELETE FROM … BRANCH 'cur'`), then merge
  * back (`ALTER TABLE … MERGE BRANCH … DROP`). The result serves BOTH
  * worlds: the parent as-of its pre-merge version (provably identical
  * to the seed — branch writes must never leak onto the mainline) and
  * the post-merge head (the branch's curated state). The DuckDB
  * oracle reproduces both from the raw orders table, so target
  * lowering, branch-commit routing, isolation, AND the merge replay
  * are all under one hash gate. Memoized per (session, corpus) like
  * [[SqlInsertDemo]].
  */
object SqlBranchWriteDemo {

  private val tables = new graft.util.CorpusMemo[(String, Int)]()

  /** Returns (table dir, parent version BEFORE the merge-back). */
  private[graft] def builtTable(t: graft.sources.Tables): (String, Int) =
    tables.getOrBuild(t) {
      import org.apache.spark.sql.functions._
      val parent = graft.util.TempDirs.createWithCleanup("graft-sqlbw")
      val dir = parent + "/orders_bw"
      val vt = VersionedTable(t.spark, dir)
      // seed = the div-3 slice; everything after this is SQL text
      vt.append(t.orders.where(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), col("o_totalprice").as("price")))
      val suffix = s"${System.identityHashCode(t.spark)}_" +
        t.sfDir.replaceAll("[^A-Za-z0-9]", "_")
      val tgt = s"__graft_sqlbw_t_$suffix"
      val src = s"__graft_sqlbw_o_$suffix"
      vt.scan().createOrReplaceTempView(tgt)
      t.orders.createOrReplaceTempView(src)
      val svc = new QueryService(t.spark)
      svc.sql(s"ALTER TABLE `$tgt` CREATE BRANCH cur").collect()
      svc.sql(s"INSERT INTO `$tgt` BRANCH 'cur' " +
        s"SELECT o_orderkey, o_totalprice FROM `$src` WHERE o_orderkey % 3 = 1")
        .collect()
      svc.sql(s"UPDATE `$tgt` BRANCH 'cur' SET price = price + 1000.0 " +
        "WHERE o_orderkey % 6 = 0").collect()
      svc.sql(s"DELETE FROM `$tgt` BRANCH 'cur' WHERE o_orderkey % 9 = 0")
        .collect()
      val preMerge = vt.currentVersion // the fork never moved the parent
      svc.sql(s"ALTER TABLE `$tgt` MERGE BRANCH cur KEY o_orderkey DROP")
        .collect()
      (dir, preMerge)
    }

  def qBranchWrite(t: graft.sources.Tables): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val (dir, preMerge) = builtTable(t)
    val vt = VersionedTable(t.spark, dir)
    def world(df: org.apache.spark.sql.DataFrame, label: String) =
      df.agg(count(lit(1)).as("n_rows"),
        graft.operators.Rnd.round(sum("price"), 2).as("total"),
        min("o_orderkey").as("min_k"), max("o_orderkey").as("max_k"))
        .select(lit(label).as("world"), col("n_rows"), col("total"),
          col("min_k"), col("max_k"))
    world(vt.read(preMerge), "before")
      .unionAll(world(vt.read(), "after"))
      .orderBy("world")
  }
}

/** Contract query for SQL TIME TRAVEL (`q_sql_timetravel`): an orders
  * snapshot lands (v1), a SQL DELETE rewrites it (v2), and ONE
  * statement reads both worlds — `FROM t VERSION AS OF 1` unioned
  * with the head — through [[QueryService.sql]] (the injected parser
  * pins the version at parse time, [[graft.plans.VTableTimeTravel]]). The
  * DuckDB oracle reproduces both arms from the raw table, so the
  * version-pinned scan's CONTENT is hash-gated, not just its row
  * count. Memoized per (session, corpus) like [[SqlDmlDemo]].
  */
object SqlTimeTravelDemo {

  private val tables = new graft.util.CorpusMemo[(String, String)]()

  /** Returns (table dir, registered view name). */
  private def builtTable(t: graft.sources.Tables): (String, String) =
    tables.getOrBuild(t) {
      import org.apache.spark.sql.functions._
      val parent = graft.util.TempDirs.createWithCleanup("graft-sqltt")
      val dir = parent + "/orders_tt"
      val vt = VersionedTable(t.spark, dir)
      vt.append(t.orders.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_totalprice").as("price")))
      val tgt = s"__graft_sqltt_${System.identityHashCode(t.spark)}_" +
        t.sfDir.replaceAll("[^A-Za-z0-9]", "_")
      vt.scan().createOrReplaceTempView(tgt)
      new QueryService(t.spark)
        .sql(s"DELETE FROM `$tgt` WHERE o_orderkey % 3 = 0").collect()
      (dir, tgt)
    }

  def qSqlTimeTravel(t: graft.sources.Tables): org.apache.spark.sql.DataFrame = {
    val (_, tgt) = builtTable(t)
    new QueryService(t.spark).sql(
      s"""SELECT 'v1' AS snap, count(*) AS n_rows,
         |  floor(sum(price) * 100 + 0.5) / 100 AS total
         |FROM `$tgt` VERSION AS OF 1
         |UNION ALL
         |SELECT 'head' AS snap, count(*) AS n_rows,
         |  floor(sum(price) * 100 + 0.5) / 100 AS total
         |FROM `$tgt`
         |ORDER BY snap""".stripMargin)
  }
}


/** Contract fixture for the MATERIALIZED VIEW SQL surface: the source
  * vtable takes three appends; the view is CREATEd over SQL after the
  * first and REFRESHed over SQL after each subsequent commit — so the
  * committed state is the product of one initial compute plus two
  * O(delta) append-diff folds, all driven through the service's DDL
  * verbs. The DuckDB oracle aggregates `orders` directly (the three
  * slices are a partition of the table): any drop or double-count in
  * the SQL-surface plumbing diverges the hash. Memoized per (session,
  * corpus) like [[SqlTimeTravelDemo]].
  */
object SqlMviewDemo {

  private val tables = new graft.util.CorpusMemo[(String, String)]()

  /** Returns (mv view dir, registered mv name). */
  private[graft] def builtView(t: graft.sources.Tables): (String, String) =
    tables.getOrBuild(t) {
      import org.apache.spark.sql.functions._
      val parent = graft.util.TempDirs.createWithCleanup("graft-sqlmv")
      val srcDir = parent + "/orders_src"
      val mvDir = parent + "/orders_mv"
      val src = VersionedTable(t.spark, srcDir)
      val base = t.orders.select(col("o_orderpriority"), col("o_totalprice"))
      def slice(i: Int) =
        base.filter(pmod(col("o_totalprice").cast("long"), lit(3)) === i)
      val tag = s"${System.identityHashCode(t.spark)}_" +
        t.sfDir.replaceAll("[^A-Za-z0-9]", "_")
      val srcName = s"__graft_sqlmv_src_$tag"
      val mvName = s"__graft_sqlmv_$tag"
      val svc = new QueryService(t.spark)
      src.append(slice(0))
      src.scan().createOrReplaceTempView(srcName)
      svc.sql(
        s"""CREATE MATERIALIZED VIEW $mvName LOCATION '$mvDir' AS
           |SELECT o_orderpriority, count(*) AS n_orders,
           |  sum(o_totalprice) AS total,
           |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
           |  avg(o_totalprice) AS avg_price
           |FROM $srcName GROUP BY o_orderpriority""".stripMargin).collect()
      (1 until 3).foreach { i =>
        src.append(slice(i))
        svc.sql(s"REFRESH MATERIALIZED VIEW $mvName").collect()
        ()
      }
      (mvDir, mvName)
    }

  def qSqlMview(t: graft.sources.Tables): DataFrame = {
    import org.apache.spark.sql.functions.col
    val (_, mvName) = builtView(t)
    t.spark.table(mvName)
      .select(col("o_orderpriority"), col("n_orders"),
        graft.operators.Rnd.round(col("total"), 2).as("total"),
        col("min_price"), col("max_price"),
        graft.operators.Rnd.round(col("avg_price"), 2).as("avg_price"))
      .orderBy("o_orderpriority")
  }
}
