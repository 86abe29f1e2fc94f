package graft.plans

import scala.util.control.NonFatal

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, OneRowRelation, Project}
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan, SparkStrategy}

/** Literal-only statements answer on the driver: a projection over
  * `OneRowRelation` (what `SELECT 1 AS one` and a manifest-answered
  * `count(*)` optimize to) plans as a local table of its one evaluated
  * row, which collects with no Spark job. Planned as Spark plans it, it
  * is a one-partition scan: a job that waits for a free core behind
  * whatever else the service is running.
  *
  * A planner strategy rather than an optimizer rule turning the leaf
  * into a `LocalRelation` (which `ConvertToLocalRelation` would then
  * fold): Spark optimizes exactly that projection to evaluate bind
  * values (`spark.sql(text, args)`) and reads it back as a `Project`,
  * and `OptimizeOneRowRelationSubquery` inlines a correlated one-row
  * subquery only while its leaf is `OneRowRelation`. A projection that
  * is not deterministic, or fails to evaluate here (a subquery, an ANSI
  * error), plans as before and raises at execution, where it did.
  */
object OneRowLocal extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Project(list, _: OneRowRelation) if list.forall(_.deterministic) =>
      try {
        val row = InternalRow.fromSeq(list.map(_.eval(InternalRow.empty)))
        LocalTableScanExec(list.map(_.toAttribute), Seq(row), None) :: Nil
      } catch { case NonFatal(_) => Nil }
    case _ => Nil
  }
}
