package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.service.InfoSchema

/** The statement-time rewrite must end string literals and comments
  * exactly where the parser does — otherwise a literal's tail gets
  * rewritten as SQL or a real reference hides inside a phantom span.
  */
class InfoSchemaRewriteSpec extends AnyFunSuite {

  private def rw(q: String): Option[String] = InfoSchema.rewrite(q)

  test("bare references rewrite; quoted literals never do") {
    val r = rw("SELECT * FROM information_schema.tables t " +
      "JOIN information_schema.columns c ON t.table_name = c.table_name " +
      "WHERE t.table_name <> 'information_schema.tables'").get
    assert(r.contains("__graft_info_tables t"))
    assert(r.contains("__graft_info_columns c"))
    assert(r.contains("'information_schema.tables'"))
  }

  test("backslash-escaped quote stays inside the literal (default dialect)") {
    // the \' does NOT close the string, so the reference inside the
    // literal is data; the one after the real closing quote rewrites
    val q = """SELECT 'it\'s information_schema.tables' AS s FROM information_schema.tables"""
    val r = rw(q).get
    assert(r.contains("""'it\'s information_schema.tables'"""), r)
    assert(r.endsWith("FROM __graft_info_tables"), r)
  }

  test("escapedStringLiterals dialect: backslash is literal, quote closes the span") {
    // Spark is the referee: the flag changes how a literal unescapes,
    // never where it ends — under both values \' stays inside the
    // literal, which then never closes, so Spark rejects the text
    // before and after the rewrite alike
    val q = """SELECT 'c:\' , information_schema.tables.table_name FROM information_schema.tables"""
    assert(SparkReferee.parses(q) == Seq(None, None))
    assert(SparkReferee.parses(rw(q).getOrElse(q)) == Seq(None, None))
  }

  test("an apostrophe in a comment does not hide a reference") {
    val q = "SELECT count(*) AS n -- the catalog's tables\nFROM information_schema.tables"
    assert(rw(q).get.endsWith("FROM __graft_info_tables"), rw(q))
    val svc = new graft.service.QueryService(TestSpark.spark)
    assert(svc.sql(q).head().getLong(0) >= 0L)
  }

  test("doubled quotes escape themselves in every dialect") {
    val q = "SELECT 'a''information_schema.tables''b' AS s, x FROM information_schema.views"
    val r = rw(q).get
    assert(r.contains("'a''information_schema.tables''b'"), r)
    assert(r.endsWith("FROM __graft_info_views"), r)
  }

  test("backticked identifiers are never rewritten and never eat escapes") {
    val q = "SELECT `information_schema.tables` FROM information_schema.tables"
    val r = rw(q).get
    assert(r.startsWith("SELECT `information_schema.tables` FROM"), r)
    assert(r.endsWith("__graft_info_tables"), r)
  }

  test("no reference, no rewrite") {
    assert(rw("SELECT 1").isEmpty)
    assert(rw("SELECT 'information_schema.tables'").isEmpty)
  }

  test("a longer qualified name is not ours and never rewrites") {
    // somecat.information_schema.tables names a DIFFERENT catalog's
    // schema — rewriting its tail would turn a clean resolution error
    // into a reference to our backing view
    assert(rw("SELECT * FROM somecat.information_schema.tables").isEmpty)
    assert(rw("SELECT * FROM x_information_schema.tables").isEmpty)
    // SQL allows whitespace around qualifier dots — still not ours
    assert(rw("SELECT * FROM somecat . information_schema.tables").isEmpty)
    assert(rw("SELECT * FROM somecat .\n  information_schema.tables").isEmpty)
    // but the bare reference right after a qualified one still rewrites
    val q = "SELECT * FROM somecat.information_schema.tables a " +
      "JOIN information_schema.tables b ON a.table_name = b.table_name"
    val r = rw(q).get
    assert(r.contains("somecat.information_schema.tables a"), r)
    assert(r.contains("JOIN __graft_info_tables b"), r)
  }
}
