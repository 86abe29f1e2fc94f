package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.catalyst.plans.logical._

/** Spark's own parser as the referee for graft's SQL text probes. */
object SparkReferee {

  private val EscapedLiterals = "spark.sql.parser.escapedStringLiterals"

  /** What the test session's parser makes of `sql` with
    * `spark.sql.parser.escapedStringLiterals` set to false and then to
    * true: the plan, or None where the parser rejects the text.
    */
  def parses(sql: String): Seq[Option[LogicalPlan]] = {
    val spark = TestSpark.spark
    Seq("false", "true").map { v =>
      val prev = spark.conf.getOption(EscapedLiterals)
      spark.conf.set(EscapedLiterals, v)
      try Some(spark.sessionState.sqlParser.parsePlan(sql))
      catch { case NonFatal(_) => None }
      finally prev.fold(spark.conf.unset(EscapedLiterals))(spark.conf.set(EscapedLiterals, _))
    }
  }

  def isWritePlan(p: LogicalPlan): Boolean =
    p.exists {
      case _: InsertIntoStatement => true
      case _: InsertIntoDir       => true
      case _: MergeIntoTable      => true
      case _: UpdateTable         => true
      case _: DeleteFromTable     => true
      case _                      => false
    }
}
