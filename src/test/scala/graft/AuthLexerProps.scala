package graft

import org.apache.spark.sql.catalyst.plans.logical._

import graft.service.SqlDml

/** Randomized DIFFERENTIAL gate for the auth verb classifier: generate
  * statements from the adversarial grammar corner the classifier
  * lexes by hand — comment headers (incl. NESTED bracketed comments),
  * CTE prologues (optional AS, alias lists, RECURSIVE, chained
  * definitions), string literals built to desync a naive lexer
  * (parens / quotes / line-comment markers / backslashes inside
  * literals) — parse each with SPARK'S OWN PARSER, and assert the one
  * property the bearer token depends on:
  *
  *   if Spark parses the statement as a WRITE, `isMutation` is true.
  *
  * The converse is deliberately not required (closed world: the
  * classifier may 401 a weird read), but a tame-literal read subset
  * asserts reads aren't blanket-blocked, so the gate can't "pass" by
  * classifying everything as a mutation.
  */
class AuthLexerProps extends SparkSpecBase {

  private def parses(q: String): Option[LogicalPlan] =
    try Some(spark.sessionState.sqlParser.parsePlan(q))
    catch { case scala.util.control.NonFatal(_) => None }

  test("every statement Spark parses as a write classifies as a mutation (randomized)") {
    val rnd = new scala.util.Random(20260814L)
    // literals that historically desync naive lexers; the parser is
    // the referee on what they mean
    val trickyLits = Seq(
      "'('", "')'", "'(('", "'))'", "'--'", "'/*'", "'*/'",
      "'it''s'", "'a\\\\b'", "'\\''", "'as'", "'insert'", "'with x as'",
      "'select 1) insert into t values (1'", "R'\\'", "r'('")
    val tameLits = Seq("'a'", "'bb'", "1", "42", "'x y'")
    def lit(tricky: Boolean) = {
      val pool = if (tricky) trickyLits ++ tameLits else tameLits
      pool(rnd.nextInt(pool.size))
    }
    def comment(): String = rnd.nextInt(4) match {
      case 0 => "-- note\n"
      case 1 => "/* plain */ "
      case 2 => "/* /* nested INSERT */ still */ "
      case _ => ""
    }
    def cteDef(name: String, tricky: Boolean): String = {
      val as = if (rnd.nextBoolean()) "AS " else ""
      val aliases = if (rnd.nextBoolean()) "(c1) " else ""
      // two adjacent literals let one end where the next begins
      // (`'\''R'\'` is two literals to Spark; a lexer that misses raw
      // literals reads a third one opening at the R's quote)
      val body = if (rnd.nextInt(4) == 0) s"${lit(tricky)}${lit(tricky)}" else lit(tricky)
      s"$name $aliases$as(SELECT $body AS c1)"
    }
    def prologue(tricky: Boolean): String = {
      val n = 1 + rnd.nextInt(2)
      val rec = if (rnd.nextInt(8) == 0) "RECURSIVE " else ""
      val defs = (0 until n).map(i => cteDef(s"cte$i", tricky)).mkString(", ")
      s"WITH $rec$defs "
    }
    def tail(write: Boolean): String =
      if (!write) rnd.nextInt(3) match {
        case 0 => "SELECT * FROM cte0"
        case 1 => "SELECT 1 AS one"
        case _ => "TABLE cte0"
      } else rnd.nextInt(4) match {
        case 0 => "INSERT INTO tgt SELECT * FROM cte0"
        case 1 => "INSERT OVERWRITE DIRECTORY '/tmp/nope' USING parquet SELECT 1 AS a"
        case 2 => "MERGE INTO tgt t USING cte0 s ON t.c1 = s.c1 " +
          "WHEN MATCHED THEN DELETE"
        case _ => "DELETE FROM tgt WHERE c1 = 1"
      }
    var checkedWrites = 0
    var tameReads = 0
    (0 until 600).foreach { i =>
      val tricky = rnd.nextBoolean()
      val write = rnd.nextBoolean()
      val withCte = rnd.nextInt(4) != 0
      val q = comment() + (if (withCte) prologue(tricky) else "") + tail(write)
      parses(q).foreach { plan =>
        if (SparkReferee.isWritePlan(plan)) {
          checkedWrites += 1
          assert(SqlDml.isMutation(q),
            s"WRITE classified as read (token bypass): $q")
        } else if (!tricky) {
          // tame-literal reads must stay open; tricky literals may
          // false-positive toward mutation (the safe direction)
          tameReads += 1
          assert(!SqlDml.isMutation(q), s"tame read blocked: $q")
        }
      }
    }
    // the generator must actually exercise both directions
    assert(checkedWrites > 100, s"only $checkedWrites writes parsed — generator broken?")
    assert(tameReads > 50, s"only $tameReads tame reads parsed — generator broken?")
  }
}
