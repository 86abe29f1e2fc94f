package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.VersionedTable

/** Table branches: zero-copy fork, independent histories, row-level
  * merge with three-way conflict detection, and vacuum safety for the
  * fork snapshot's bytes (SURVEY §2.2).
  */
class BranchSpec extends SparkSpecBase {
  import spark.implicits._

  private def freshTable(tag: String): VersionedTable = {
    val dir = Files.createTempDirectory(s"graft-branch-$tag").toString + "/t"
    VersionedTable(spark, dir)
  }

  private def seed(vt: VersionedTable, n: Int = 20): Unit = {
    vt.append((1 to n).map(i => (i.toLong, s"name$i", i * 10.0))
      .toDF("k", "name", "price"))
    ()
  }

  private def snapshot(vt: VersionedTable): Set[(Long, String, Double)] =
    vt.read().collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet

  test("branch is the fork snapshot; parent and branch histories are independent") {
    val vt = freshTable("iso")
    seed(vt)
    val atFork = snapshot(vt)
    val br = vt.createBranch("exp")
    assert(snapshot(br) == atFork)
    assert(vt.branches() == Seq(("exp", 1, 1)))
    // branch edit invisible to parent; parent edit invisible to branch
    br.deleteWhere(col("k") === 1L)
    vt.updateWhere(col("k") === 2L, Map("price" -> lit(999.0)))
    assert(snapshot(br) == atFork.filterNot(_._1 == 1L))
    assert(snapshot(vt).exists(r => r._1 == 2L && r._3 == 999.0))
    assert(snapshot(vt).exists(_._1 == 1L))
    assert(!snapshot(br).exists(r => r._3 == 999.0))
    // creation was O(metadata): the branch's v1 references parent bytes
    assert(vt.branch("exp").read().count() == 19)
  }

  test("merge onto an unmoved parent replays updates, deletes, and inserts") {
    val vt = freshTable("ff")
    seed(vt)
    val br = vt.createBranch("work")
    br.updateWhere(col("k") <= 3L, Map("price" -> (col("price") + lit(1.0))))
    br.deleteWhere(col("k") === 10L)
    br.append(Seq((100L, "new100", 5.0)).toDF("k", "name", "price"))
    // two branch commits touching one key resolve to the LATEST
    br.updateWhere(col("k") === 3L, Map("price" -> lit(777.0)))
    val expected = snapshot(br) // before the merge drops the branch
    vt.mergeBranch("work", key = "k", dropAfter = true)
    val got = snapshot(vt)
    assert(got == expected, "parent must converge to the branch snapshot")
    assert(got.exists(r => r._1 == 1L && r._3 == 11.0))
    assert(got.exists(r => r._1 == 3L && r._3 == 777.0))
    assert(!got.exists(_._1 == 10L))
    assert(got.exists(r => r._1 == 100L && r._2 == "new100"))
    assert(got.size == 20) // 20 - 1 delete + 1 insert
    assert(vt.branchNames.isEmpty)
  }

  test("diverged parent with disjoint keys merges cleanly; overlapping keys refuse unless forced") {
    val vt = freshTable("conflict")
    vt.enableCdf() // parent history must be row-replayable for safety proofs
    seed(vt)
    val br = vt.createBranch("risky")
    br.updateWhere(col("k") === 4L, Map("price" -> lit(44.0)))
    vt.updateWhere(col("k") === 5L, Map("price" -> lit(55.0)))
    // disjoint (4 vs 5): merge succeeds, both edits land
    vt.mergeBranch("risky", key = "k")
    assert(snapshot(vt).exists(r => r._1 == 4L && r._3 == 44.0))
    assert(snapshot(vt).exists(r => r._1 == 5L && r._3 == 55.0))
    // now a genuine conflict: both sides touch k=6
    val br2 = vt.createBranch("risky2")
    br2.updateWhere(col("k") === 6L, Map("price" -> lit(66.0)))
    vt.updateWhere(col("k") === 6L, Map("price" -> lit(600.0)))
    val e = intercept[IllegalStateException](vt.mergeBranch("risky2", key = "k"))
    assert(e.getMessage.contains("conflict") && e.getMessage.contains("6"))
    assert(snapshot(vt).exists(r => r._1 == 6L && r._3 == 600.0)) // refused = untouched
    // force lets the branch win
    vt.mergeBranch("risky2", key = "k", force = true, dropAfter = true)
    assert(snapshot(vt).exists(r => r._1 == 6L && r._3 == 66.0))
  }

  test("parent vacuums spare the fork snapshot while the branch lives; dropBranch releases it") {
    val vt = freshTable("vac")
    seed(vt, n = 12)
    val br = vt.createBranch("hold")
    val atFork = snapshot(br)
    // parent rewrites everything — the fork version's files leave the
    // parent's retained manifests entirely
    vt.overwrite((1 to 12).map(i => (i.toLong, s"v2name$i", i * 2.0))
      .toDF("k", "name", "price"))
    assert(vt.vacuum(retainVersions = 1) == 0,
      "fork snapshot bytes are branch-held: version vacuum must spare them")
    assert(vt.vacuumOrphans(olderThanMs = 0L) == 0,
      "orphan sweep must not touch branch-held or branch-local files")
    assert(snapshot(br) == atFork, "branch must survive parent vacuums")
    // release: the version vacuum already dropped the fork manifest
    // (bytes spared as branch-held), so once the branch is gone the
    // fork files are plain orphans and the orphan sweep reclaims them
    vt.dropBranch("hold")
    assert(vt.vacuumOrphans(olderThanMs = 0L) > 0)
    assert(snapshot(vt).exists(_._2 == "v2name1"))
  }

  test("branches of branches list and merge through their own parent") {
    val vt = freshTable("nest")
    seed(vt, n = 6)
    val br = vt.createBranch("b1")
    val sub = br.createBranch("b2")
    sub.updateWhere(col("k") === 1L, Map("price" -> lit(111.0)))
    br.mergeBranch("b2", key = "k", dropAfter = true)
    assert(snapshot(br).exists(r => r._1 == 1L && r._3 == 111.0))
    assert(!snapshot(vt).exists(r => r._3 == 111.0))
    vt.mergeBranch("b1", key = "k", dropAfter = true)
    assert(snapshot(vt).exists(r => r._1 == 1L && r._3 == 111.0))
  }

  test("SQL surface: CREATE/DESCRIBE/MERGE/DROP BRANCH over a registered vtable view") {
    val vt = freshTable("sql")
    vt.enableCdf()
    seed(vt, n = 8)
    vt.scan().createOrReplaceTempView("branch_sql_t")
    val svc = new graft.service.QueryService(spark)
    val created = svc.sql("ALTER TABLE branch_sql_t CREATE BRANCH dev").head()
    assert(created.getString(0) == "dev" && created.getInt(1) == 1)
    // edit the branch through its own API, then merge back as SQL
    vt.branch("dev").updateWhere(col("k") === 2L, Map("price" -> lit(222.0)))
    val roster = svc.sql("DESCRIBE BRANCHES branch_sql_t").collect()
    assert(roster.map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSeq ==
      Seq(("dev", 1, 2)))
    val v = svc.sql("ALTER TABLE branch_sql_t MERGE BRANCH dev KEY k DROP").head().getInt(0)
    assert(v == vt.currentVersion)
    assert(snapshot(vt).exists(r => r._1 == 2L && r._3 == 222.0))
    assert(vt.branchNames.isEmpty)
    // read-your-writes: the registered view sees the merged row
    assert(spark.table("branch_sql_t").filter(col("k") === 2L)
      .head().getDouble(2) == 222.0)
    // DROP BRANCH on a non-existent name reports false, not an error
    val again = svc.sql("ALTER TABLE branch_sql_t DROP BRANCH dev").head()
    assert(!again.getBoolean(0))
  }

  test("SQL surface reaches plain spark.sql through the injected parser") {
    // the shared test session is extension-built, so spark.sql itself
    // routes the branch verbs — no QueryService anywhere
    val vt = freshTable("parser")
    vt.enableCdf()
    seed(vt, n = 5)
    vt.scan().createOrReplaceTempView("branch_parser_t")
    val created = spark.sql("ALTER TABLE branch_parser_t CREATE BRANCH px").head()
    assert(created.getString(0) == "px" && created.getInt(1) == 1)
    vt.branch("px").deleteWhere(col("k") === 5L)
    assert(spark.sql("DESCRIBE BRANCHES branch_parser_t").collect()
      .map(_.getString(0)).toSeq == Seq("px"))
    spark.sql("ALTER TABLE branch_parser_t MERGE BRANCH px KEY k DROP").collect()
    assert(!snapshot(vt).exists(_._1 == 5L))
    assert(!spark.sql("ALTER TABLE branch_parser_t DROP BRANCH px").head().getBoolean(0))
  }

  test("mergeBranch records provenance in the apply commit; DESCRIBE HISTORY surfaces it") {
    val vt = freshTable("prov")
    vt.enableCdf()
    seed(vt, n = 6)
    vt.createBranch("feat")
    val br = vt.branch("feat")
    br.updateWhere(col("k") === 2L, Map("price" -> lit(20.5)))
    br.deleteWhere(col("k") === 5L)
    val feedHead = br.currentVersion
    val v = vt.mergeBranch("feat", key = "k")
    val head = vt.history(maxVersions = 1).head()
    assert(head.getInt(0) == v)
    assert(head.getString(1) == "merge_branch", head.toString)
    val params = head.getAs[String]("op_params")
    assert(params != null &&
      params.contains("\"branchSource\":\"feat\"") &&
      params.contains("\"branchFork\":\"1\"") &&
      params.contains(s""""branchFeed":"2..$feedHead""""), params)
    // provenance survives the branch's deletion — that is its point
    vt.dropBranch("feat")
    assert(vt.history(maxVersions = 1).head().getAs[String]("op_params")
      .contains("feat"))
    // non-merge commits carry no op_params
    assert(vt.history().collect().filter(_.getInt(0) == 1)
      .head.getAs[String]("op_params") == null)
    // the change feed reads across the merge_branch commit (CDF rides it)
    val feed = vt.readChangesSince(v - 1)
    assert(feed.filter(col("_change_type") === "delete").count() == 1)
  }

  test("branch reads over SQL: FROM t BRANCH 'b' and VERSION AS OF 'b', both entry points") {
    val vt = freshTable("read")
    seed(vt, n = 6)
    vt.createBranch("dev")
    vt.branch("dev").updateWhere(col("k") === 3L, Map("price" -> lit(333.0)))
    vt.updateWhere(col("k") === 4L, Map("price" -> lit(444.0)))
    // registered AFTER the edits: a view pins its snapshot (snapshot
    // isolation), so registration order is part of the fixture
    vt.scan().createOrReplaceTempView("branch_read_t")
    // plain spark.sql (injected parser): the BRANCH read is the branch
    // head — sees the branch edit, not the parent's post-fork edit
    val viaBranch = spark.sql(
      "SELECT k, price FROM branch_read_t BRANCH 'dev' ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(viaBranch(3L) == 333.0 && viaBranch(4L) == 40.0, viaBranch.toString)
    // Iceberg-style VERSION AS OF 'name' resolves the branch too
    val viaVersion = spark.sql(
      "SELECT price FROM branch_read_t VERSION AS OF 'dev' WHERE k = 3")
      .head().getDouble(0)
    assert(viaVersion == 333.0)
    // one statement reads BOTH sides (self-join parent vs branch)
    val both = spark.sql(
      """SELECT m.k, m.price AS mp, b.price AS bp
        |FROM branch_read_t m JOIN branch_read_t BRANCH 'dev' b ON m.k = b.k
        |WHERE m.price <> b.price ORDER BY m.k""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    assert(both == Seq((3L, 30.0, 333.0), (4L, 444.0, 40.0)), both.toString)
    // QueryService entry point (plain-session textual path)
    val svc = new graft.service.QueryService(spark)
    assert(svc.sql("SELECT price FROM branch_read_t BRANCH 'dev' WHERE k = 3")
      .head().getDouble(0) == 333.0)
    // a misspelled branch names the live roster in its error
    val err = intercept[Exception](
      spark.sql("SELECT * FROM branch_read_t BRANCH 'nope'").collect())
    assert(err.getMessage.contains("nope") && err.getMessage.contains("dev"))
    // the keyword inside a string literal is data, not grammar
    assert(spark.sql("SELECT 'read BRANCH ''x'' later' AS s").head().getString(0)
      == "read BRANCH 'x' later")
    // numeric VERSION AS OF is untouched by the branch extension
    assert(spark.sql("SELECT count(*) AS n FROM branch_read_t VERSION AS OF 1")
      .head().getLong(0) == 6L)
    vt.dropBranch("dev")
    ()
  }

  test("branch writes over SQL: INSERT/UPDATE/DELETE/MERGE … BRANCH 'b', parent untouched") {
    val vt = freshTable("write")
    seed(vt, n = 6)
    vt.createBranch("cur")
    vt.scan().createOrReplaceTempView("branch_write_t")
    val parentBefore = snapshot(vt)
    // injected-parser entry point: the three row verbs land ON the fork
    spark.sql("INSERT INTO branch_write_t BRANCH 'cur' VALUES (100, 'new', 1.0)")
      .collect()
    spark.sql("UPDATE branch_write_t BRANCH 'cur' SET price = 999.0 WHERE k = 2")
      .collect()
    spark.sql("DELETE FROM branch_write_t BRANCH 'cur' WHERE k = 5").collect()
    // MERGE with an aliased branch target (the alias survives the
    // target lowering, so qualified ON/SET references resolve)
    Seq((3L, "name3", 303.0), (200L, "merged", 2.0)).toDF("k", "name", "price")
      .createOrReplaceTempView("branch_write_src")
    spark.sql(
      """MERGE INTO branch_write_t BRANCH 'cur' AS t USING branch_write_src s
        |ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    val b = snapshot(vt.branch("cur"))
    assert(b.exists(_._1 == 100L), "branch INSERT must land")
    assert(b.find(_._1 == 2L).exists(_._3 == 999.0), "branch UPDATE must land")
    assert(!b.exists(_._1 == 5L), "branch DELETE must land")
    assert(b.find(_._1 == 3L).exists(_._3 == 303.0) && b.exists(_._1 == 200L),
      "branch MERGE must land")
    assert(snapshot(vt) == parentBefore,
      "parent must be untouched by every branch write")
    // service entry point (textual dispatch) speaks the same spelling
    val svc = new graft.service.QueryService(spark)
    svc.sql("INSERT INTO branch_write_t BRANCH 'cur' VALUES (300, 'svc', 3.0)")
      .collect()
    assert(snapshot(vt.branch("cur")).exists(_._1 == 300L))
    assert(snapshot(vt) == parentBefore)
    // an unknown branch refuses naming the live roster (a tag is not a
    // writable ref either — it never joins the branch roster)
    val err = intercept[Exception](
      spark.sql("INSERT INTO branch_write_t BRANCH 'nope' VALUES (1, 'x', 1.0)"))
    assert(err.getMessage.contains("nope") && err.getMessage.contains("cur"),
      err.getMessage)
    // the keyword inside a string literal stays data even in DML text
    spark.sql("UPDATE branch_write_t BRANCH 'cur' " +
      "SET name = 'wrote BRANCH ''x''' WHERE k = 100").collect()
    assert(snapshot(vt.branch("cur")).find(_._1 == 100L)
      .exists(_._2 == "wrote BRANCH 'x'"))
    // qualified refs by the ORIGINAL name still resolve: the lowered
    // path target is re-aliased AS that name when no alias is given
    spark.sql("UPDATE branch_write_t BRANCH 'cur' SET price = 7.0 " +
      "WHERE branch_write_t.k = 100").collect()
    assert(snapshot(vt.branch("cur")).find(_._1 == 100L).exists(_._3 == 7.0))
    // MERGE without an explicit alias: ON t.k qualifiers keep working
    spark.sql(
      """MERGE INTO branch_write_t BRANCH 'cur' USING branch_write_src
        |ON branch_write_t.k = branch_write_src.k
        |WHEN MATCHED THEN UPDATE SET name = branch_write_src.name""".stripMargin)
      .collect()
    // merge-back completes the SQL-only curation loop: fork → write →
    // merge; the parent now serves the branch's curated state
    spark.sql("ALTER TABLE branch_write_t MERGE BRANCH cur KEY k DROP").collect()
    val merged = snapshot(vt)
    assert(merged.exists(_._1 == 300L) && !merged.exists(_._1 == 5L) &&
      merged.find(_._1 == 2L).exists(_._3 == 999.0), merged.toString)
    assert(vt.branchNames.isEmpty)
  }

  test("table_branches TVF lists the live roster as a relation") {
    val vt = freshTable("roster")
    seed(vt, n = 4)
    vt.scan().createOrReplaceTempView("branch_roster_t")
    vt.createBranch("b1")
    vt.branch("b1").deleteWhere(col("k") === 1L)
    vt.createBranch("b2")
    val roster = spark.sql(
      "SELECT * FROM table_branches('branch_roster_t') ORDER BY branch")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSeq
    assert(roster == Seq(("b1", 1, 2), ("b2", 1, 1)), roster.toString)
    // joinable like any relation: pick only diverged branches
    assert(spark.sql(
      "SELECT branch FROM table_branches('branch_roster_t') WHERE head_version > fork_version")
      .collect().map(_.getString(0)).toSeq == Seq("b1"))
    vt.dropBranch("b1"); vt.dropBranch("b2")
    assert(spark.sql(s"SELECT count(*) AS n FROM table_branches('${vt.dir}')")
      .head().getLong(0) == 0L)
  }

  test("table_branch TVF reads a branch head as a relation") {
    val vt = freshTable("tvf")
    seed(vt, n = 4)
    vt.scan().createOrReplaceTempView("branch_tvf_t")
    vt.createBranch("peek")
    vt.branch("peek").updateWhere(col("k") === 1L, Map("price" -> lit(123.0)))
    val viaName = spark.sql(
      "SELECT price FROM table_branch('branch_tvf_t', 'peek') WHERE k = 1")
      .head().getDouble(0)
    assert(viaName == 123.0)
    val viaPath = spark.sql(
      s"SELECT count(*) AS n FROM table_branch('${vt.dir}', 'peek')")
      .head().getLong(0)
    assert(viaPath == 4L)
    // the parent's own view is untouched by the branch edit
    assert(spark.table("branch_tvf_t").filter(col("k") === 1L)
      .head().getDouble(2) == 10.0)
    vt.dropBranch("peek")
  }

  test("tags pin a version immutably: named read, vacuum hold, drop releases") {
    val vt = freshTable("tag")
    seed(vt, n = 12)
    val atSeed = snapshot(vt)
    assert(vt.createTag("rel1") == 1)
    // immutable: a second CREATE of the same name refuses (re-pin is
    // an explicit DROP + CREATE)
    val e = intercept[IllegalArgumentException] { vt.createTag("rel1") }
    assert(e.getMessage.contains("immutable"))
    // the head moves past the pin — full rewrite, nothing shared
    vt.overwrite((1 to 12).map(i => (i.toLong, s"v2name$i", i * 2.0))
      .toDF("k", "name", "price"))
    // roster + resolution
    assert(vt.tags().map(t => (t._1, t._2)) == Seq(("rel1", 1)))
    assert(vt.tagVersion("rel1").contains(1))
    // a version vacuum must keep the tagged manifest and bytes live
    assert(vt.vacuum(retainVersions = 1) == 0,
      "tagged version is pinned: version vacuum must spare it")
    assert(vt.vacuumOrphans(olderThanMs = 0L) == 0,
      "orphan sweep must not touch tag-pinned files")
    vt.scan().createOrReplaceTempView("tag_hold_t")
    val tagged = spark.sql("SELECT * FROM tag_hold_t VERSION AS OF 'rel1'")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(tagged == atSeed, "the tag must read the pinned snapshot post-vacuum")
    // an unknown ref names both namespaces in its error
    val miss = intercept[Exception] {
      spark.sql("SELECT * FROM tag_hold_t VERSION AS OF 'nope'").collect()
    }
    assert(miss.getMessage.contains("tags"))
    // drop releases the pin: the next vacuum reclaims the old version
    assert(vt.dropTag("rel1"))
    assert(!vt.dropTag("rel1"))
    assert(vt.vacuum(retainVersions = 1) > 0,
      "dropTag must release the version to the next vacuum")
    assert(snapshot(vt).exists(_._2 == "v2name1"))
  }

  test("tag SQL lifecycle: CREATE/DROP TAG, DESCRIBE TAGS, table_tags TVF, name collisions") {
    val vt = freshTable("tagsql")
    seed(vt, n = 6)
    vt.scan().createOrReplaceTempView("tag_sql_t")
    val svc = new graft.service.QueryService(spark)
    val created = svc.sql("ALTER TABLE tag_sql_t CREATE TAG v1").head()
    assert(created.getString(0) == "v1" && created.getInt(1) == 1)
    vt.updateWhere(col("k") === 1L, Map("price" -> lit(999.0)))
    // COMMENT rides in the pin file — "why was this version blessed";
    // the doubled quote unescapes, so free text can't tear the pin
    svc.sql("ALTER TABLE tag_sql_t CREATE TAG v2 VERSION AS OF 2 " +
      "COMMENT 'the ''blessed'' training cut'").collect()
    assert(svc.sql("DESCRIBE TAGS tag_sql_t").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(3))).toSeq ==
      Seq(("v1", 1, ""), ("v2", 2, "the 'blessed' training cut")))
    assert(spark.sql("SELECT message FROM table_tags('tag_sql_t') WHERE tag = 'v2'")
      .head().getString(0) == "the 'blessed' training cut")
    // the TVF roster matches, and the named read serves the pin
    assert(spark.sql("SELECT tag, version FROM table_tags('tag_sql_t')")
      .collect().map(r => (r.getString(0), r.getInt(1))).toSet ==
      Set(("v1", 1), ("v2", 2)))
    val pinned = svc.sql(
      "SELECT price FROM tag_sql_t VERSION AS OF 'v1' WHERE k = 1").head()
    assert(pinned.getDouble(0) == 10.0, "tag v1 predates the update")
    val head = svc.sql(
      "SELECT price FROM tag_sql_t VERSION AS OF 'v2' WHERE k = 1").head()
    assert(head.getDouble(0) == 999.0)
    // the injected parser routes the same verbs through plain spark.sql
    assert(spark.sql("ALTER TABLE tag_sql_t DROP TAG v2").head().getBoolean(0))
    assert(!spark.sql("ALTER TABLE tag_sql_t DROP TAG v2").head().getBoolean(0))
    assert(spark.sql("DESCRIBE TAGS tag_sql_t").collect()
      .map(_.getString(0)).toSeq == Seq("v1"))
    // tags and branches share the VERSION AS OF namespace: creation
    // refuses cross-kind collisions in both directions
    vt.createBranch("bx")
    val eb = intercept[IllegalArgumentException] { vt.createTag("bx") }
    assert(eb.getMessage.contains("branch"))
    val et = intercept[IllegalArgumentException] { vt.createBranch("v1") }
    assert(et.getMessage.contains("tag"))
    // RESTORE to a tag: "roll back to the blessed snapshot" — the
    // copy-forward restore lands the tag's content as a NEW version
    val rv = svc.sql("RESTORE TABLE tag_sql_t VERSION AS OF 'v1'")
      .head().getInt(0)
    assert(rv == vt.currentVersion)
    assert(snapshot(vt).forall(_._3 != 999.0), "the update must be rolled back")
    // an unknown tag names the roster; a branch is not a restore target
    val er = intercept[Exception] {
      svc.sql("RESTORE TABLE tag_sql_t VERSION AS OF 'nope'").collect()
    }
    assert(er.getMessage.contains("v1"), er.getMessage)
    // version-taking metadata TVFs resolve tag names: the restored
    // head equals the tagged snapshot, so the diff is empty, and the
    // tagged version's file listing answers from its manifest
    val n = spark.sql(
      s"SELECT count(*) AS n FROM table_diff('tag_sql_t', 'v1', " +
        s"${vt.currentVersion}, 'k')").head().getLong(0)
    assert(n == 0, s"restored head must not diff from its tag, got $n rows")
    assert(spark.sql("SELECT * FROM table_files('tag_sql_t', 'v1')").count() >= 1)
    val ef = intercept[Exception] {
      spark.sql("SELECT * FROM table_files('tag_sql_t', 'zzz')").collect()
    }
    assert(ef.getMessage.contains("v1"), ef.getMessage)
  }

  test("a tag-pinned registration is durable: the registry replays it to the same snapshot") {
    val vt = freshTable("tagreg")
    seed(vt, n = 4)              // v1
    vt.createTag("blessed")      // pins v1
    vt.append(Seq((99L, "later", 9.0)).toDF("k", "name", "price")) // v2
    val regDir = Files.createTempDirectory("graft-tagreg-reg").toString
    val svc1 = new graft.service.QueryService(spark, Some(regDir))
    svc1.registerSource("blessed_view", "vtable", vt.dir,
      Map("version" -> "blessed"))
    assert(spark.table("blessed_view").count() == 4,
      "the registration serves the tag's pinned snapshot, not head")
    // a NEW service over the same registry (restart) replays the
    // definition; the tag is immutable, so the re-resolved view is the
    // same snapshot — the durable BI-facing twin of VERSION AS OF 'tag'
    new graft.service.QueryService(spark, Some(regDir))
    assert(spark.table("blessed_view").count() == 4)
    // a bogus named ref fails naming the roster, not NumberFormat
    val e = intercept[Exception] {
      svc1.registerSource("nope_view", "vtable", vt.dir,
        Map("version" -> "nope"))
    }
    assert(e.getMessage.contains("blessed"), e.getMessage)
  }

  test("merging a branch with no commits past the fork is a no-op; foreign branches refuse") {
    val vt = freshTable("noop")
    seed(vt, n = 3)
    vt.createBranch("idle")
    val v = vt.currentVersion
    assert(vt.mergeBranch("idle", key = "k") == v)
    assert(vt.currentVersion == v)
    // a branch directory transplanted from another table must refuse
    val other = freshTable("foreign")
    seed(other, n = 3)
    val foreignClone = other.cloneTo(
      java.nio.file.Paths.get(vt.dir, VersionedTable.BranchesSub, "alien").toString)
    foreignClone.enableCdf()
    foreignClone.append(Seq((9L, "x", 1.0)).toDF("k", "name", "price"))
    val e = intercept[IllegalArgumentException](vt.mergeBranch("alien", key = "k"))
    assert(e.getMessage.contains("forked from"))
  }

  test("a parent UPDATE landing at the merge's claim is conflict-checked on the retry") {
    val vt = freshTable("race")
    vt.enableCdf() // parent history must be row-replayable for safety proofs
    seed(vt)
    val br = vt.createBranch("racer")
    br.updateWhere(col("k") === 5L, Map("price" -> lit(55.0)))
    // the parent has not moved past the fork when the merge starts, so
    // its first check finds nothing; at the instant the merge claims its
    // version, a parent UPDATE to the same key claims it first. The
    // merge must lose, re-check against the new head, and refuse.
    val inner = vt.commitStore
    val claim = s"version ${vt.currentVersion + 1} "
    @volatile var fired = false
    vt.commitStore = new graft.sources.CommitStore {
      def putIfAbsent(target: java.nio.file.Path, bytes: Array[Byte],
          what: String): Unit = {
        if (!fired && what.startsWith(claim)) {
          fired = true // the UPDATE below re-enters this store; let it through
          vt.updateWhere(col("k") === 5L, Map("price" -> lit(500.0)))
        }
        inner.putIfAbsent(target, bytes, what)
      }
    }
    val e =
      try intercept[IllegalStateException](vt.mergeBranch("racer", key = "k"))
      finally vt.commitStore = inner
    assert(fired, "the interleaving hook must have run")
    assert(e.getMessage.contains("merge conflict") && e.getMessage.contains("5"),
      e.getMessage)
    // refused = the parent's UPDATE stands and nothing else committed
    assert(vt.currentVersion == 2)
    assert(snapshot(vt).exists(r => r._1 == 5L && r._3 == 500.0))
  }
}
