package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source rules over `src/main/scala`: every graft session is built by
  * `GraftSession` (so every main runs with the graft extensions), the
  * only Spark listeners are the tools' `StageMeter` and the statement
  * runner's reaper, which alone sets and cancels job groups, the
  * injected parser is the one SQL router,
  * Spark's own lexer is the one SQL text scanner, and one loop retries
  * every versioned-table commit.
  */
class SourceRulesSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")

  /** (path relative to `root`, source with comments removed) */
  private lazy val sources: Seq[(String, String)] = {
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val files = Files.walk(root)
    try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally files.close()
  }.map { (p: Path) =>
    val code = new String(Files.readAllBytes(p), "UTF-8")
      .replaceAll("(?s)/\\*.*?\\*/", "")
      .replaceAll("//[^\n]*", "")
    root.relativize(p).toString -> code
  }

  private def occurrences(pattern: String): Map[String, Int] =
    sources.map { case (f, code) => f -> pattern.r.findAllMatchIn(code).size }
      .filter(_._2 > 0).toMap

  test("SparkSession.builder() is called only in engine/GraftSession.scala") {
    assert(occurrences("""SparkSession\s*\.\s*builder\b""") ==
      Map("graft/engine/GraftSession.scala" -> 1))
  }

  test("SparkListener is subclassed only by StageMeter and the Statements reaper") {
    assert(occurrences("""(?:extends|new|with)\s+(?:org\.apache\.spark\.scheduler\.)?SparkListener\b""") ==
      Map("graft/tools/StageMeter.scala" -> 1, "graft/service/Statements.scala" -> 1))
  }

  test("one cancellation plane: only the statement runner sets or cancels a job group") {
    assert(occurrences("""\b(?:setJobGroup|cancelJobGroup|cancelJob)\s*\(""").keySet ==
      Set("graft/service/Statements.scala"))
  }

  test("one SQL router: the parser alone runs vtable statements; QueryService only the lifecycle") {
    assert(occurrences("""\bSqlDml\s*\.\s*dispatch\b""").keySet ==
      Set("graft/service/QueryService.scala"))
    val runners = """\b(?:describeMeta|maintenance|branchStmt|copyIntoStmt|""" +
      """mvStmt|dmlPlan|alterPlan|textCommand|treeCommand)\s*\("""
    assert(occurrences(runners).keySet -- Set("graft/service/SqlDml.scala",
      "graft/service/GraftSqlParser.scala") == Set.empty)
    assert(occurrences("""\btimeTravelSelect\b""").isEmpty)
  }

  test("one SQL lexer: Spark's SqlBaseLexer, built only in service/SqlTokens.scala") {
    assert(occurrences("""\bnew\s+SqlBaseLexer\b""") ==
      Map("graft/service/SqlTokens.scala" -> 1))
    // the flag changes how literals unescape, never where they end
    assert(occurrences("""escapedStringLiterals""").isEmpty)
    assert(occurrences("""\b(?:skipBracketedComment|skipTrivia|skipQuoted|""" +
      """skipBalancedParens|wordAt|hasInsertToken|isMutationLex|BranchScan|""" +
      """branchReadEscapes|backslashEscapes)\b""").isEmpty)
  }

  test("one commit loop: a lost claim is caught, and MaxCommitRetries read, only in VersionedTable.retrying") {
    assert(occurrences("""\bcase\s+\w+\s*:\s*(?:java\.util\.)?ConcurrentModificationException\b""") ==
      Map("graft/sources/VersionedTable.scala" -> 1))
    assert(occurrences("""(?<!val )\bMaxCommitRetries\b""") ==
      Map("graft/sources/VersionedTable.scala" -> 1))
  }
}
