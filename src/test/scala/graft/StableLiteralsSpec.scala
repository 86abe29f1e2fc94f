package graft

import org.apache.spark.sql.{DataFrame, PlainSession, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.plans.ReferencedLiteral
import graft.tools.StageMeter

/** graft.plans.StableLiterals: statements that differ only in a
  * comparison constant reuse their generated code (no Janino compile),
  * and answer exactly what a session without the rule answers.
  */
class StableLiteralsSpec extends SparkSpecBase with AdaptiveSparkPlanHelper {

  /** Two parquet tables; `sl_t` carries every rewritten type and the
    * edge values (NaN, -0.0, Long.MinValue, pre-1970 days and instants).
    */
  private lazy val dirs: (String, String) = {
    val base = util.TempDirs.createWithCleanup("graft-stable-lit")
    spark.sql("""SELECT * FROM VALUES
      (1L, 1, 1S, 1Y, 0.5D, 0.5F, true, DATE'2024-01-15',
        TIMESTAMP'2024-01-15 10:00:00', TIMESTAMP_NTZ'2024-01-15 10:00:00'),
      (2L, 2, 2S, 2Y, -0.0D, -0.0F, false, DATE'1969-12-31',
        TIMESTAMP'1969-12-31 23:59:59.999999', TIMESTAMP_NTZ'1969-12-31 23:59:59.999999'),
      (3L, 3, 3S, 3Y, 0.0D, 0.0F, true, DATE'1900-03-01',
        TIMESTAMP'1900-03-01 00:00:00', TIMESTAMP_NTZ'1900-03-01 00:00:00'),
      (CAST('-9223372036854775808' AS BIGINT), -2147483648, -32768S, -128Y,
        CAST('NaN' AS DOUBLE), CAST('NaN' AS FLOAT), false, DATE'2024-02-29',
        TIMESTAMP'2024-02-29 12:30:00', TIMESTAMP_NTZ'2024-02-29 12:30:00'),
      (9223372036854775807L, 2147483647, 32767S, 127Y,
        CAST('Infinity' AS DOUBLE), CAST('-Infinity' AS FLOAT), true, DATE'2024-03-31',
        TIMESTAMP'2024-03-31 23:00:00', TIMESTAMP_NTZ'2024-03-31 23:00:00'),
      (6L, 6, 6S, 6Y, 2.25D, 2.25F, true, DATE'2024-02-01',
        TIMESTAMP'2024-02-01 00:00:00', TIMESTAMP_NTZ'2024-02-01 00:00:00')
      AS t(k, i, s, b, d, f, flag, day, ts, ntz)""")
      .coalesce(1).write.parquet(s"$base/t")
    spark.sql("SELECT * FROM VALUES (1L, 'one'), (2L, 'two'), (3L, 'three'), (6L, 'six') AS u(k, v)")
      .coalesce(1).write.parquet(s"$base/u")
    (s"$base/t", s"$base/u")
  }

  private def register(s: SparkSession): Unit = {
    s.read.parquet(dirs._1).createOrReplaceTempView("sl_t")
    s.read.parquet(dirs._2).createOrReplaceTempView("sl_u")
  }

  private def filters(df: DataFrame): Seq[FilterExec] =
    collectWithSubqueries(df.queryExecution.executedPlan) { case f: FilterExec => f }

  private def referenced(df: DataFrame): Seq[ReferencedLiteral] =
    filters(df).flatMap(_.condition.collect { case r: ReferencedLiteral => r })

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  test("statements that differ only in a constant compile no new classes after the first") {
    register(spark)
    val shapes: Seq[(String, Seq[String], String => DataFrame)] = Seq(
      ("long point key (bound)", Seq("1", "2", "3", "6"),
        v => spark.sql("SELECT k, i FROM sl_t WHERE k = :k", Map[String, Any]("k" -> v.toLong))),
      ("timestamp range", Seq("2024-01-15", "2024-02-29", "2024-02-01", "2024-03-31"),
        v => spark.sql(
          s"SELECT k FROM sl_t WHERE ts >= TIMESTAMP'$v 00:00:00' AND ts < TIMESTAMP'$v 23:59:59'")),
      ("date bound", Seq("2024-01-31", "2024-02-15", "2024-03-01", "2024-12-31"),
        v => spark.sql(s"SELECT k FROM sl_t WHERE day <= DATE'$v'")),
      ("short IN list", Seq("1", "2", "3", "4"),
        v => spark.sql(s"SELECT k FROM sl_t WHERE i IN ($v, ${v.toInt + 1}, ${v.toInt + 2})")),
      ("double comparison", Seq("0.1", "0.25", "1.5", "2.0"),
        v => spark.sql(s"SELECT k FROM sl_t WHERE d > $v")),
      ("join with a filtered side", Seq("2", "3", "6", "5"),
        v => spark.sql(
          s"SELECT t.k, u.v FROM sl_t t JOIN sl_u u ON t.k = u.k WHERE u.k <= $v AND t.d >= 0.0")))
    shapes.foreach { case (name, constants, stmt) =>
      val first = stmt(constants.head)
      assert(first.collect().nonEmpty, name)
      assert(referenced(first).nonEmpty, s"$name: no constant read by reference:\n" +
        first.queryExecution.executedPlan)
      constants.tail.foreach { c =>
        val before = StageMeter.compileCount
        val n = stmt(c).collect().length
        val compiles = StageMeter.compileCount - before
        assert(n > 0, s"$name with $c matched nothing")
        assert(compiles == 0, s"$name with $c compiled $compiles new class(es)")
      }
    }
  }

  test("edge values answer as a session without the rule does; NULL stays a Literal") {
    val plain = PlainSession(spark)
    register(spark)
    register(plain)
    val named: Seq[(String, Map[String, Any])] = Seq(
      "SELECT k FROM sl_t WHERE d = CAST('NaN' AS DOUBLE)" -> Map.empty,
      "SELECT k FROM sl_t WHERE d < CAST('NaN' AS DOUBLE)" -> Map.empty,
      "SELECT k FROM sl_t WHERE d >= CAST('NaN' AS DOUBLE)" -> Map.empty,
      "SELECT k FROM sl_t WHERE f = CAST('NaN' AS FLOAT)" -> Map.empty,
      "SELECT k FROM sl_t WHERE d = -0.0D" -> Map.empty,
      "SELECT k FROM sl_t WHERE d < 0.0D" -> Map.empty,
      "SELECT k FROM sl_t WHERE d <=> -0.0D" -> Map.empty,
      "SELECT k FROM sl_t WHERE f > -0.0F" -> Map.empty,
      "SELECT k FROM sl_t WHERE d IN (CAST('NaN' AS DOUBLE), -0.0D)" -> Map.empty,
      "SELECT k FROM sl_t WHERE k = :k" -> Map("k" -> Long.MinValue),
      "SELECT k FROM sl_t WHERE k > :k" -> Map("k" -> Long.MinValue),
      "SELECT k FROM sl_t WHERE k < :k" -> Map("k" -> Long.MaxValue),
      "SELECT k FROM sl_t WHERE i > :i AND s < :s AND b <> :b" ->
        Map("i" -> Int.MinValue, "s" -> Short.MaxValue, "b" -> Byte.MinValue),
      "SELECT k FROM sl_t WHERE flag < :f" -> Map("f" -> true),
      "SELECT k FROM sl_t WHERE day < DATE'1970-01-01'" -> Map.empty,
      "SELECT k FROM sl_t WHERE day = DATE'1900-03-01'" -> Map.empty,
      "SELECT k FROM sl_t WHERE ts < TIMESTAMP'1970-01-01 00:00:00'" -> Map.empty,
      "SELECT k FROM sl_t WHERE ts = TIMESTAMP'1969-12-31 23:59:59.999999'" -> Map.empty,
      "SELECT k FROM sl_t WHERE ntz <= TIMESTAMP_NTZ'1969-12-31 23:59:59.999999'" -> Map.empty,
      "SELECT k FROM sl_t WHERE i IN (1, NULL, 3)" -> Map.empty,
      "SELECT k FROM sl_t WHERE i NOT IN (1, 3)" -> Map.empty)
    named.foreach { case (q, args) =>
      val ours = spark.sql(q, args)
      val expected = rows(plain.sql(q, args))
      assert(rows(ours) == expected, q)
      assert(referenced(ours).nonEmpty, s"$q: no constant read by reference")
    }
    val withNull = spark.sql("SELECT k FROM sl_t WHERE i IN (1, NULL, 3)")
    withNull.collect()
    assert(filters(withNull).exists(_.condition.exists {
      case Literal(null, _) => true
      case _ => false
    }), "the NULL in the IN list is no longer a Literal")
    assert(referenced(withNull).forall(_.literal.value != null))
  }

  test("plan text is unchanged: the constant prints as its literal") {
    register(spark)
    val df = spark.sql("SELECT k FROM sl_t WHERE k = 6 AND day >= DATE'2024-01-01'")
    assert(df.collect().toSeq == Seq(Row(6L)))
    val text = filters(df).map(_.condition.sql).mkString
    assert(text.contains("6L") && text.contains("DATE '2024-01-01'"), text)
  }
}
