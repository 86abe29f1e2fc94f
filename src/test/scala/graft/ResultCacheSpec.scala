package graft

import java.nio.file.Files

import graft.service.{QueryService, ResultCache}
import graft.sources.VersionedTable

class ResultCacheSpec extends SparkSpecBase {

  private def svc(): QueryService = new QueryService(spark)

  test("identical and re-spelled statements share one entry; literals don't") {
    import spark.implicits._
    val s = svc()
    Seq((1L, "x"), (2L, "y")).toDF("id", "v").createOrReplaceTempView("rc_t1")
    val (r1, h1) = s.sqlJsonCached("SELECT id FROM rc_t1 ORDER BY id")
    val (r2, h2) = s.sqlJsonCached("select   ID from RC_T1   order by id;")
    assert(!h1 && h2, "re-spelled statement must hit the same entry")
    assert(r1 == r2)
    // a string literal differing only in case is a DIFFERENT query
    val (_, h3) = s.sqlJsonCached("SELECT id FROM rc_t1 WHERE v = 'X' ORDER BY id")
    val (_, h4) = s.sqlJsonCached("SELECT id FROM rc_t1 WHERE v = 'x' ORDER BY id")
    assert(!h3 && !h4, "literal case must split entries")
  }

  test("commands never cache, and DDL through the service invalidates entries") {
    val s = svc()
    // a command with cache:true must EXECUTE both times, not serve a
    // cached no-op
    val (_, c1) = s.sqlJsonCached("CREATE OR REPLACE TEMP VIEW rc_ddl AS SELECT 1 AS x")
    val (_, c2) = s.sqlJsonCached("CREATE OR REPLACE TEMP VIEW rc_ddl AS SELECT 1 AS x")
    assert(!c1 && !c2, "commands must never be served from cache")
    val (r1, h1) = s.sqlJsonCached("SELECT x FROM rc_ddl")
    assert(!h1 && r1.head.contains("1"))
    // replacing the view through the service's own front door must
    // drop the dependent entry — x=1 may not answer for x=2
    s.sqlJson("CREATE OR REPLACE TEMP VIEW rc_ddl AS SELECT 2 AS x")
    val (r2, h2) = s.sqlJsonCached("SELECT x FROM rc_ddl")
    assert(!h2 && r2.head.contains("2"), s"stale cached view read: $r2 (hit=$h2)")
    // a session-semantics SET also splits the key space: no stale hit
    val (_, h3) = s.sqlJsonCached("SELECT x FROM rc_ddl")
    assert(h3, "sanity: repeat hits before the SET")
    s.sqlJson("SET spark.sql.session.timeZone=America/New_York")
    try {
      val (_, h4) = s.sqlJsonCached("SELECT x FROM rc_ddl")
      assert(!h4, "an entry cached under the old session semantics answered")
    } finally { s.sqlJson("SET spark.sql.session.timeZone=UTC"); () }
  }

  test("a command run through QueryService.sql invalidates entries too") {
    val s = svc()
    s.sql("CREATE OR REPLACE TEMP VIEW rc_sqlddl AS SELECT 1 AS x")
    val (r1, h1) = s.sqlJsonCached("SELECT x FROM rc_sqlddl")
    assert(!h1 && r1 == Seq("""{"x":1}"""))
    // the DataFrame door, not sqlJson: the replacement must still bump
    // the DDL nonce, or x=1 answers for x=2
    s.sql("CREATE OR REPLACE TEMP VIEW rc_sqlddl AS SELECT 2 AS x")
    val (r2, h2) = s.sqlJsonCached("SELECT x FROM rc_sqlddl")
    assert(!h2 && r2 == Seq("""{"x":2}"""), s"stale cached view read: $r2 (hit=$h2)")
  }

  test("approx-mode sessions never share entries with exact-mode ones") {
    import spark.implicits._
    val s = svc()
    Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "v")
      .createOrReplaceTempView("rc_apx")
    val sql = "SELECT count(DISTINCT id) AS n FROM rc_apx"
    val (exact, h1) = s.sqlJsonCached(sql)
    assert(!h1)
    spark.conf.set("spark.graft.approxDistinct", "true")
    try {
      // flag on: the exact entry must NOT answer — fresh execution
      val (_, h2) = s.sqlJsonCached(sql)
      assert(!h2, "approx-mode must not be served the exact-mode entry")
      // a different rsd is yet another semantics — still no sharing
      spark.conf.set("spark.graft.approxDistinct.rsd", "0.01")
      val (_, h3) = s.sqlJsonCached(sql)
      assert(!h3, "distinct rsd must key separately")
    } finally {
      spark.conf.unset("spark.graft.approxDistinct")
      spark.conf.unset("spark.graft.approxDistinct.rsd")
    }
    // flag off again: the original exact entry still serves
    val (back, h4) = s.sqlJsonCached(sql)
    assert(h4 && back == exact)
  }

  test("vtable entries key on the PINNED binding and rotate on re-register") {
    import spark.implicits._
    val s = svc()
    val dir = Files.createTempDirectory("graft-rc").toString + "/t"
    val vt = VersionedTable(spark, dir)
    vt.append(Seq((1L, "a")).toDF("id", "name"))
    s.registerSource("rc_vt", "vtable", dir)
    val q = "SELECT count(*) AS n FROM rc_vt"
    val (r1, _) = s.sqlJsonCached(q)
    val (r1b, hot) = s.sqlJsonCached(q)
    assert(hot && r1 == r1b)
    // a commit does NOT move the registered view (it pinned v1's file
    // list), so the cache keeps serving — and stays equal to LIVE
    // execution, which is the invariant that matters
    vt.append(Seq((2L, "b")).toDF("id", "name"))
    val (rStill, hStill) = s.sqlJsonCached(q)
    assert(hStill && rStill == s.sqlJson(q),
      "cache must mirror live execution's pinned-snapshot semantics")
    // re-register — the refresh signal — rotates the key (new pinned
    // version) and the new binding serves the new snapshot
    s.registerSource("rc_vt", "vtable", dir)
    val (r2, h2) = s.sqlJsonCached(q)
    assert(!h2, "re-registration must rotate the fingerprint")
    assert(r1.head.contains("1") && r2.head.contains("2"))
    // re-pointing the name at a DIFFERENT table dir also rotates even
    // if that table happens to share a version number
    val dir2 = Files.createTempDirectory("graft-rc2").toString + "/t"
    val vt2 = VersionedTable(spark, dir2)
    vt2.append(Seq((7L, "x"), (8L, "y"), (9L, "z")).toDF("id", "name"))
    vt2.append(Seq((10L, "w")).toDF("id", "name"))
    s.registerSource("rc_vt", "vtable", dir2)
    val (r3, h3) = s.sqlJsonCached(q)
    assert(!h3 && r3.head.contains("4"), s"$h3 $r3")
  }

  test("uppercase names invalidate correctly (case-insensitive folding)") {
    import spark.implicits._
    val s = svc()
    Seq(1L, 2L).toDF("id").createOrReplaceTempView("RC_Upper")
    s.submit("RC_View", "SELECT id FROM RC_Upper WHERE id = 1")
    val q = "SELECT count(*) AS n FROM rc_view"
    val (r1, _) = s.sqlJsonCached(q)
    s.submit("RC_View", "SELECT id FROM RC_Upper")
    val (r2, h2) = s.sqlJsonCached(q)
    assert(!h2, "mixed-case submit must still bump the fingerprint")
    assert(r1 != r2)
  }

  test("a submitted view wrapping a non-deterministic function is never cached") {
    val s = svc()
    s.submit("rc_rand_v", "SELECT rand() AS r")
    val q = "SELECT r FROM rc_rand_v"
    val (_, h1) = s.sqlJsonCached(q)
    val (_, h2) = s.sqlJsonCached(q)
    assert(!h1 && !h2, "nondeterminism behind a submitted view must bypass")
    // a second view READING the tainted one inherits the taint
    s.submit("rc_rand_v2", "SELECT r FROM rc_rand_v")
    val (_, h3) = s.sqlJsonCached("SELECT r FROM rc_rand_v2")
    assert(!h3, "taint must propagate through submitted views")
    // re-submitting a deterministic definition clears it
    s.submit("rc_rand_v", "SELECT 1.0 AS r")
    s.sqlJsonCached(q)
    val (_, h4) = s.sqlJsonCached(q)
    assert(h4, "a deterministic re-submit must cache again")
  }

  test("ANSI niladic current_date/timestamp forms bypass the cache") {
    val s = svc()
    // no parens: these parse to resolved CurrentDate/CurrentTimestamp
    // nodes, not UnresolvedFunction — each must still bypass
    Seq("SELECT current_date AS d", "SELECT current_timestamp AS t",
        "SELECT current_user AS u").foreach { q =>
      s.sqlJsonCached(q)
      val (_, hot) = s.sqlJsonCached(q)
      assert(!hot, s"niladic form was cached: $q")
    }
  }

  test("escaped quotes inside literals do not collapse distinct queries") {
    val s = svc()
    val rc = s.results
    // \' stays inside the span: the differing tails must survive
    val a = rc.normalize("""SELECT 'it\'s  A' FROM t""")
    val b = rc.normalize("""SELECT 'it\'s  a' FROM t""")
    assert(a != b, s"escaped-quote literals collapsed: $a")
    assert(a == """select 'it\'s  A' from t""")
  }

  test("a comment or raw literal never folds a literal's case into the key") {
    val s = svc()
    // an apostrophe in a comment, or the backslash of a raw literal,
    // must not open a phantom span that lower-cases the real literal
    Seq("SELECT 1 AS x -- it's\n, '%s' AS y",
        raw"SELECT 1 AS x, R'\' AS p, '%s' AS y").foreach { shape =>
      val (r1, _) = s.sqlJsonCached(shape.format("ABC"))
      assert(r1.head.contains("\"y\":\"ABC\""), r1)
      val (r2, hit) = s.sqlJsonCached(shape.format("abc"))
      assert(!hit && r2.head.contains("\"y\":\"abc\""), s"$shape: $r2 hit=$hit")
    }
    // statements that differ only in comments share an entry
    assert(s.results.normalize("SELECT 1 /* a */ AS x;") ==
      s.results.normalize("SELECT 1 -- b\nAS x"))
  }

  test("submit bumps the named view's nonce") {
    import spark.implicits._
    val s = svc()
    Seq(1L, 2L, 3L).toDF("id").createOrReplaceTempView("rc_base")
    s.submit("rc_view", "SELECT id FROM rc_base WHERE id <= 2")
    val q = "SELECT count(*) AS n FROM rc_view"
    val (r1, _) = s.sqlJsonCached(q)
    s.submit("rc_view", "SELECT id FROM rc_base")
    val (r2, h2) = s.sqlJsonCached(q)
    assert(!h2, "re-submitting a name must invalidate queries over it")
    assert(r1 != r2)
  }

  test("stateful table functions bypass the cache (their target hides in a string argument)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val s = svc()
    val dir = Files.createTempDirectory("graft-rc-tvf").toString + "/t"
    val vt = VersionedTable(spark, dir)
    vt.append(Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v"))
    vt.createBranch("b")
    val q = s"SELECT count(*) AS n FROM table_branch('$dir', 'b')"
    val (r1, h1) = s.sqlJsonCached(q)
    val (r2, h2) = s.sqlJsonCached(q)
    assert(!h1 && !h2, "table_branch reads branch state no fingerprint covers")
    assert(r1 == r2)
    // the point of the bypass: a DIRECT-API branch write (no service
    // command, no nonce bump) must be visible on the next call
    vt.branch("b").append(Seq((3L, 3.0)).toDF("k", "v"))
    val (r3, h3) = s.sqlJsonCached(q)
    assert(!h3 && r3 != r1, s"stale branch count served: $r3")
    // a submitted view WRAPPING the TVF inherits the bypass
    s.submit("rc_tvf_view", s"SELECT * FROM table_branch('$dir', 'b')")
    val wrapped = "SELECT count(*) AS n FROM rc_tvf_view"
    val (_, w1) = s.sqlJsonCached(wrapped)
    val (_, w2) = s.sqlJsonCached(wrapped)
    assert(!w1 && !w2, "a view over a stateful TVF must never cache")
  }

  test("non-deterministic statements bypass the cache") {
    val s = svc()
    val q = "SELECT rand() AS r"
    val (_, h1) = s.sqlJsonCached(q)
    val (_, h2) = s.sqlJsonCached(q)
    assert(!h1 && !h2)
    assert(s.results.stats == ((0L, 0L)), "bypass must not count as hit or miss")
  }

  test("pages slice the cached prefix; past an incomplete prefix goes live") {
    import spark.implicits._
    val s = svc()
    (1L to 20L).toDF("id").createOrReplaceTempView("rc_wide")
    val rc = new ResultCache(s, capacity = 4, rowCap = 5)
    val q = "SELECT id FROM rc_wide ORDER BY id"
    val (p1, h1) = rc.sqlJson(q, 3, 0)
    assert(!h1 && p1.size == 3)
    val (p2, h2) = rc.sqlJson(q, 2, 3)
    assert(h2, "page within the cached prefix must hit")
    assert(p2.map(r => r.replaceAll("[^0-9]", "")) == Seq("4", "5"))
    // offset+limit reaches past the 5-row incomplete prefix → live path
    val (p3, h3) = rc.sqlJson(q, 5, 3)
    assert(!h3 && p3.size == 5)
    assert(p3.map(r => r.replaceAll("[^0-9]", "")) == (4 to 8).map(_.toString))
  }

  test("normalization keeps quoted spans byte-exact") {
    val s = svc()
    val rc = s.results
    assert(rc.normalize("SELECT  'A  B'  FROM   T") == "select 'A  B' from t")
    assert(rc.normalize("select `Weird  Col` from t;") == "select `Weird  Col` from t")
  }
}
