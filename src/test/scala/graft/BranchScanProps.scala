package graft

import graft.service.SqlDml

/** Randomized gate for the token-spliced branch-read rewrite
  * (`SqlDml.rewriteBranchReads`): two rounds of advisor findings were
  * scanner desyncs (the lifecycle-verb guard, then backslash escapes),
  * so this pins the two properties every future edit must keep:
  *
  *   1. LITERAL PRESERVATION — string literals (doubled-quote,
  *      backslash-escaped and raw `R'…'` spellings, adversarial
  *      contents including the word BRANCH followed by quotes) pass
  *      through byte-for-byte while a genuine `FROM t BRANCH 'b'` ref
  *      in the same statement still rewrites;
  *   2. IDENTITY — statements with no rewritable ref (lifecycle verbs,
  *      refs inside literals/comments/backticks, bare BRANCH with no
  *      following literal) come back unchanged.
  */
class BranchScanProps extends org.scalatest.funsuite.AnyFunSuite {

  private val rnd = new scala.util.Random(20260816L)

  // adversarial literal CONTENTS (pre-escaping): quote runs, escape
  // runs, comment markers, the keyword itself in every case mix
  private def rawContent(): String = {
    val atoms = Seq("BRANCH", "branch", "Branch", "'", "''", "\\", "\\'",
      "--", "/*", "*/", "`", "\"", "b", " ", "BRANCH 'x'", "VERSION AS OF",
      "it's", "a\\b")
    (0 until rnd.nextInt(6)).map(_ => atoms(rnd.nextInt(atoms.size))).mkString
  }

  /** Render `content` as a single-quoted literal under the DOUBLING
    * convention — backslashes are excluded from the content for this
    * form.
    */
  private def doubledLit(content: String): String =
    "'" + content.replace("\\", "").replace("'", "''") + "'"

  /** Render under the BACKSLASH convention. */
  private def backslashLit(content: String): String =
    "'" + content.replace("\\", "\\\\").replace("'", "\\'") + "'"

  /** Render as a RAW literal: nothing escapes, so a backslash stays a
    * backslash (`R'\'` is complete) and the content cannot hold a quote.
    */
  private def rawLit(content: String): String =
    (if (rnd.nextBoolean()) "R'" else "r'") + content.replace("'", "") + "'"

  private def anyLit(content: String): String = rnd.nextInt(3) match {
    case 0 => doubledLit(content)
    case 1 => backslashLit(content)
    case _ => rawLit(content)
  }

  test("literals pass through byte-for-byte while the genuine ref still rewrites (randomized)") {
    (1 to 400).foreach { _ =>
      val lit = anyLit(rawContent())
      val sep = if (rnd.nextBoolean()) " -- it's\n" else " "
      val sql = s"SELECT $lit AS s${sep}FROM t BRANCH 'exp' WHERE x > 1"
      val want = s"SELECT $lit AS s${sep}FROM t VERSION AS OF 'exp' WHERE x > 1"
      val got = SqlDml.rewriteBranchReads(sql)
      assert(got == want, s"\nsql= $sql\ngot= $got\nwant=$want")
    }
  }

  test("statements with no rewritable ref come back unchanged (randomized)") {
    (1 to 400).foreach { _ =>
      val lit = anyLit(rawContent())
      val shapes = Seq(
        s"SELECT $lit AS s FROM t WHERE x > 1",
        s"ALTER TABLE t CREATE BRANCH b",
        s"ALTER TABLE t DROP BRANCH b",
        s"ALTER TABLE t MERGE BRANCH b KEY k",
        s"SELECT * FROM t -- BRANCH 'c' in a line comment\nWHERE x = $lit",
        s"SELECT * FROM t /* BRANCH 'c' in a block comment */ WHERE x = $lit",
        s"SELECT * FROM t -- it's\nWHERE x = $lit AND y = 'BRANCH '",
        s"SELECT `BRANCH` FROM t WHERE x = $lit",
        s"SELECT branchy, BRANCH2 FROM t_branch WHERE x = $lit",
        s"SELECT 'BRANCH ''q''' AS s, $lit AS u FROM t")
      val sql = shapes(rnd.nextInt(shapes.size))
      val got = SqlDml.rewriteBranchReads(sql)
      assert(got == sql, s"\nsql= $sql\ngot= $got")
    }
  }

  test("the escapedStringLiterals dialect lexes backslashes as literal characters") {
    // Spark is the referee: spark.sql.parser.escapedStringLiterals
    // changes how a literal UNESCAPES, never where it ends — under both
    // values `\'` stays inside the literal. So 'C:\' runs on through
    // the ref and Spark rejects the text either way...
    val sql = raw"SELECT 'C:\' AS p FROM t BRANCH 'exp'"
    assert(SparkReferee.parses(sql) == Seq(None, None))
    // ...the decoy's first literal swallows ` AS x, ` and leaves a
    // stray quote, rejected either way...
    val decoy = raw"SELECT 'a\' AS x, 'BRANCH ''b'' ' AS y FROM t"
    assert(SparkReferee.parses(decoy) == Seq(None, None))
    // ...and 'it\'s …' is one literal under both values: the ref after
    // it rewrites and parses as a time-travel read either way
    val dflt = raw"SELECT 'it\'s BRANCH ''q''' AS s FROM t BRANCH 'exp'"
    val dWant = raw"SELECT 'it\'s BRANCH ''q''' AS s FROM t VERSION AS OF 'exp'"
    assert(SqlDml.rewriteBranchReads(dflt) == dWant)
    assert(SparkReferee.parses(dflt).forall(_.exists(
      graft.plans.VTableTimeTravel.hasTimeTravel)))
  }

  test("a raw literal or a supplementary character before the ref does not hide or shift it") {
    // R'\' is complete (a raw literal escapes nothing), so the ref
    // after it is code
    assert(SqlDml.rewriteBranchReads(raw"SELECT R'\' AS p FROM t BRANCH 'exp'") ==
      raw"SELECT R'\' AS p FROM t VERSION AS OF 'exp'")
    // the lexer counts code points, the splice counts chars
    assert(SqlDml.rewriteBranchReads("SELECT '\uD83D\uDE00' AS e FROM t BRANCH 'exp'") ==
      "SELECT '\uD83D\uDE00' AS e FROM t VERSION AS OF 'exp'")
  }

  test("multiple genuine refs all rewrite; mixed with decoys in literals") {
    val sql = "SELECT a.x FROM t BRANCH 'a' a JOIN t BRANCH 'b' b " +
      "ON a.k = b.k WHERE a.s <> 'use BRANCH ''c'' here' AND b.s <> 'BRANCH \\'d\\''"
    val want = "SELECT a.x FROM t VERSION AS OF 'a' a JOIN t VERSION AS OF 'b' b " +
      "ON a.k = b.k WHERE a.s <> 'use BRANCH ''c'' here' AND b.s <> 'BRANCH \\'d\\''"
    assert(SqlDml.rewriteBranchReads(sql) == want)
  }

  // ---- the WRITE scanner (rewriteBranchWrites) ----------------------

  /** The write scanner shares the read scanner's lexer discipline but
    * resolves targets through the session catalog, so its properties
    * run against the shared test session. Identity must hold for:
    * read-position refs (the read scanner's territory), unresolvable
    * targets (aliases, native tables), lifecycle verbs, and any
    * BRANCH text inside literals/comments/backticks.
    */
  test("write scanner: identity on everything that is not a resolvable write target (randomized)") {
    val spark = TestSpark.spark
    (1 to 400).foreach { _ =>
      val lit = anyLit(rawContent())
      val shapes = Seq(
        // read positions stay for the read scanner
        s"SELECT $lit AS s FROM t BRANCH 'exp' WHERE x > 1",
        s"MERGE INTO t AS x USING s BRANCH 'b' ON x.k = s.k " +
          "WHEN MATCHED THEN UPDATE SET *",
        // unresolvable targets (no such view in the session)
        s"INSERT INTO no_such_vw_${rnd.nextInt(1000)} BRANCH 'b' VALUES (1)",
        s"UPDATE not_registered BRANCH 'b' SET x = $lit",
        s"DELETE FROM nothing_here BRANCH 'b' WHERE x = $lit",
        // lifecycle verbs use bare identifiers — never a literal
        "ALTER TABLE t CREATE BRANCH b",
        "ALTER TABLE t MERGE BRANCH b KEY k DROP",
        // decoys in literals/comments/backticks
        s"INSERT INTO x VALUES ($lit, 'INSERT INTO t BRANCH ''b''')",
        s"UPDATE x SET s = $lit -- UPDATE t BRANCH 'b' in a comment",
        s"SELECT `BRANCH` FROM x WHERE s = $lit")
      val sql = shapes(rnd.nextInt(shapes.size))
      val got = SqlDml.rewriteBranchWrites(spark, sql)
      assert(got == sql, s"\nsql= $sql\ngot= $got")
    }
  }

  test("write scanner: a resolvable target rewrites to the branch dir; literals survive byte-for-byte") {
    import org.apache.spark.sql.functions._
    val spark = TestSpark.spark
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-bwprops").toString + "/t"
    val vt = graft.sources.VersionedTable(spark, dir)
    vt.append(Seq((1L, "a")).toDF("k", "s"))
    vt.createBranch("exp")
    vt.scan().createOrReplaceTempView("bwprops_t")
    val bdir = vt.branch("exp").dir
    (1 to 200).foreach { _ =>
      val lit = anyLit(rawContent())
      val (sql, want) = rnd.nextInt(4) match {
        // UPDATE/DELETE/MERGE without a user alias re-alias AS the
        // original name, so qualified column refs keep resolving;
        // INSERT targets take no alias in the grammar, and an explicit
        // user alias is never overridden
        case 0 => (s"INSERT INTO bwprops_t BRANCH 'exp' VALUES (1, $lit)",
          s"INSERT INTO `$bdir` VALUES (1, $lit)")
        case 1 => (s"UPDATE bwprops_t BRANCH 'exp' SET s = $lit WHERE k = 1",
          s"UPDATE `$bdir` AS `bwprops_t` SET s = $lit WHERE k = 1")
        case 2 => (s"DELETE FROM bwprops_t BRANCH 'exp' WHERE s = $lit",
          s"DELETE FROM `$bdir` AS `bwprops_t` WHERE s = $lit")
        case _ => (s"MERGE INTO bwprops_t BRANCH 'exp' AS t USING s " +
          s"ON t.k = s.k WHEN MATCHED THEN UPDATE SET s = $lit",
          s"MERGE INTO `$bdir` AS t USING s " +
            s"ON t.k = s.k WHEN MATCHED THEN UPDATE SET s = $lit")
      }
      val got = SqlDml.rewriteBranchWrites(spark, sql)
      assert(got == want, s"\nsql= $sql\ngot= $got\nwant=$want")
    }
    spark.catalog.dropTempView("bwprops_t")
    ()
  }

  test("write scanner: backticked keywords never spoof a write-target position") {
    val spark = TestSpark.spark
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-bwspoof").toString + "/t"
    val vt = graft.sources.VersionedTable(spark, dir)
    vt.append(Seq((1L, "a")).toDF("k", "s"))
    vt.createBranch("exp")
    vt.scan().createOrReplaceTempView("bwspoof_t")
    // `UPDATE` here is a backtick-quoted COLUMN, not the verb: the
    // following `bwspoof_t BRANCH 'exp'` sits in READ position and
    // must stay for the read scanner (identity under the write pass)
    val readPos = "SELECT `UPDATE` FROM x JOIN bwspoof_t BRANCH 'exp' ON 1=1"
    // w2 = backticked `UPDATE`, w1 = bwspoof_t: looks like an UPDATE
    // target if bareness is ignored
    val spoof = "SELECT a, `UPDATE` bwspoof_t BRANCH 'exp' FROM x"
    Seq(readPos, spoof).foreach { sql =>
      val got = SqlDml.rewriteBranchWrites(spark, sql)
      assert(got == sql, s"\nsql= $sql\ngot= $got")
    }
    spark.catalog.dropTempView("bwspoof_t")
    ()
  }

  test("write scanner: a comment or hint between target and BRANCH survives the rewrite") {
    val spark = TestSpark.spark
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-bwmid").toString + "/t"
    val vt = graft.sources.VersionedTable(spark, dir)
    vt.append(Seq((1L, "a")).toDF("k", "s"))
    vt.createBranch("exp")
    vt.scan().createOrReplaceTempView("bwmid_t")
    val bdir = vt.branch("exp").dir
    val got = SqlDml.rewriteBranchWrites(spark,
      "INSERT INTO bwmid_t /*+ REPARTITION(4) */ BRANCH 'exp' VALUES (1, 'x')")
    assert(got.contains(s"`$bdir`"), got)
    assert(got.contains("/*+ REPARTITION(4) */"),
      s"hint between target and BRANCH was deleted: $got")
    spark.catalog.dropTempView("bwmid_t")
    ()
  }

  test("write scanner: a qualified write target fails with the guided message") {
    val spark = TestSpark.spark
    val e = intercept[Exception] {
      SqlDml.rewriteBranchWrites(spark,
        "INSERT INTO db.t BRANCH 'b' VALUES (1)")
    }
    assert(e.getMessage.contains("qualified"), e.getMessage)
    assert(e.getMessage.toLowerCase.contains("bare"), e.getMessage)
  }
}
