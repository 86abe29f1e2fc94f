package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.{MaterializedView, MvAgg, VersionedTable}

class MaterializedViewSpec extends SparkSpecBase {

  private def dirs(): (String, String) = {
    val p = Files.createTempDirectory("graft-mv").toString
    (p + "/src", p + "/view")
  }

  private def mk(srcDir: String, viewDir: String): MaterializedView =
    MaterializedView(spark, viewDir, srcDir,
      Seq("grp"),
      Seq(MvAgg.Count("n"), MvAgg.Sum("v", "total"),
        MvAgg.Min("v", "lo"), MvAgg.Max("v", "hi"), MvAgg.Avg("v", "mean")))

  private def fullAgg(df: DataFrame): Set[(String, Long, Long, Long, Long, Double)] =
    df.groupBy("grp")
      .agg(count(lit(1)).as("n"), sum("v").as("total"),
        min("v").as("lo"), max("v").as("hi"), avg("v").as("mean"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
      .toSet

  private def viewRows(mv: MaterializedView): Set[(String, Long, Long, Long, Long, Double)] =
    mv.read().collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
      .toSet

  test("incremental refresh across appends equals a full recompute") {
    import spark.implicits._
    val (srcDir, viewDir) = dirs()
    val src = VersionedTable(spark, srcDir)
    val mv = mk(srcDir, viewDir)

    src.append(Seq(("a", 1L), ("a", 3L), ("b", 10L)).toDF("grp", "v"))
    mv.refresh()
    // second and third appends exercise the state-merge path (covered > 0)
    src.append(Seq(("a", 5L), ("c", 7L)).toDF("grp", "v"))
    mv.refresh()
    src.append(Seq(("b", 2L), ("c", 700L), ("d", -4L)).toDF("grp", "v"))
    val v = mv.refresh()

    assert(v == mv.stateVersion)
    assert(mv.coveredSourceVersion == src.currentVersion)
    assert(viewRows(mv) == fullAgg(src.read()))
  }

  test("restoring the state table rewinds coverage with the content") {
    import spark.implicits._
    val (srcDir, viewDir) = dirs()
    val src = VersionedTable(spark, srcDir)
    val mv = mk(srcDir, viewDir)
    src.append(Seq(("a", 1L), ("b", 10L)).toDF("grp", "v"))
    mv.refresh()
    val goodStateV = mv.stateVersion
    val goodCovered = mv.coveredSourceVersion
    src.append(Seq(("a", 5L), ("c", 7L)).toDF("grp", "v"))
    mv.refresh()
    // operator undoes the second refresh (bad batch, say) by restoring
    // the STATE table — coverage must rewind to what that content
    // covered, or the next refresh would skip source versions forever
    VersionedTable(spark, viewDir).restore(goodStateV)
    assert(mv.coveredSourceVersion == goodCovered,
      s"coverage ${mv.coveredSourceVersion} did not rewind to $goodCovered")
    // a further source append + refresh must reproduce the FULL
    // aggregate — nothing from the rewound window may be lost
    src.append(Seq(("b", 2L), ("d", -4L)).toDF("grp", "v"))
    mv.refresh()
    assert(viewRows(mv) == fullAgg(src.read()))
    // the stream high-water mark deliberately does NOT rewind
    assert(VersionedTable(spark, viewDir).lastCommittedEpoch
      .exists(_ >= src.currentVersion - 1))
  }

  test("refresh is a no-op when the source hasn't moved") {
    import spark.implicits._
    val (srcDir, viewDir) = dirs()
    val src = VersionedTable(spark, srcDir)
    val mv = mk(srcDir, viewDir)
    src.append(Seq(("a", 1L)).toDF("grp", "v"))
    val v1 = mv.refresh()
    val v2 = mv.refresh()
    assert(v1 == v2, "an up-to-date view must not commit a new state version")
  }

  test("a refresh that loses its claim re-plans; one that finds its source version covered is a no-op") {
    import spark.implicits._
    val (srcDir, viewDir) = dirs()
    val src = VersionedTable(spark, srcDir)
    val mv = mk(srcDir, viewDir)
    src.append(Seq(("a", 1L), ("b", 2L)).toDF("grp", "v"))
    mv.refresh()
    val st = mv.state
    // run `body` while `steal` claims the state's next version first
    def stealingNext[A](steal: => Unit)(body: => A): A = {
      val next = st.currentVersion + 1
      val inner = st.commitStore
      @volatile var fired = false
      st.commitStore = new graft.sources.CommitStore {
        def putIfAbsent(target: java.nio.file.Path, bytes: Array[Byte], what: String): Unit = {
          if (!fired && what.startsWith(s"version $next ")) { fired = true; steal }
          inner.putIfAbsent(target, bytes, what)
        }
      }
      try body
      finally { st.commitStore = inner; assert(fired, "the refresh never claimed") }
    }
    // a raw commit of the state's own files takes the next version: the
    // refresh re-reads its coverage and lands one version later
    src.append(Seq(("a", 3L)).toDF("grp", "v"))
    val head = st.currentVersion
    val v = stealingNext(
      st.commit(head + 1, "append", st.fileList(head), st.read(head).schema.json))(mv.refresh())
    assert(v == head + 2 && st.currentVersion == head + 2)
    assert(viewRows(mv) == fullAgg(src.read()))
    // a concurrent refresh of the same view wins the claim: the loser
    // finds the source version covered and commits nothing
    src.append(Seq(("c", 4L)).toDF("grp", "v"))
    val head2 = st.currentVersion
    val v2 = stealingNext { mk(srcDir, viewDir).refresh(); () }(mv.refresh())
    assert(v2 == head2 + 1 && st.currentVersion == head2 + 1)
    assert(mv.coveredSourceVersion == src.currentVersion)
    assert(viewRows(mv) == fullAgg(src.read()))
  }

  test("the delta path reads only appended files, not the base snapshot") {
    import spark.implicits._
    val (srcDir, viewDir) = dirs()
    val src = VersionedTable(spark, srcDir)
    val mv = mk(srcDir, viewDir)
    src.append(Seq(("a", 1L), ("b", 2L)).toDF("grp", "v"))
    mv.refresh()
    val before = src.fileList(src.currentVersion).toSet
    src.append(Seq(("a", 8L)).toDF("grp", "v"))
    // the incremental input is exactly the manifest diff
    val delta = src.readAppendsSince(mv.coveredSourceVersion)
    assert(delta.count() == 1)
    val after = src.fileList(src.currentVersion).toSet
    assert((after -- before).nonEmpty && before.subsetOf(after))
    mv.refresh()
    assert(viewRows(mv) == fullAgg(src.read()))
  }

  test("a rewriting commit in the window falls back to full recompute") {
    import spark.implicits._
    val (srcDir, viewDir) = dirs()
    val src = VersionedTable(spark, srcDir)
    val mv = mk(srcDir, viewDir)
    src.append(Seq(("a", 1L), ("a", 3L), ("b", 10L)).toDF("grp", "v"))
    mv.refresh()
    // delete rewrites files → readAppendsSince refuses → full path
    src.delete(Seq(("a", 3L)).toDF("grp", "v").select(col("v")), "v")
    src.append(Seq(("c", 5L)).toDF("grp", "v"))
    mv.refresh()
    assert(mv.coveredSourceVersion == src.currentVersion)
    assert(viewRows(mv) == fullAgg(src.read()))
  }

  test("state is itself versioned: earlier refreshes stay time-travelable") {
    import spark.implicits._
    val (srcDir, viewDir) = dirs()
    val src = VersionedTable(spark, srcDir)
    val mv = mk(srcDir, viewDir)
    src.append(Seq(("a", 1L)).toDF("grp", "v"))
    mv.refresh()
    src.append(Seq(("a", 9L)).toDF("grp", "v"))
    mv.refresh()
    val state = VersionedTable(spark, viewDir)
    assert(state.currentVersion == 2)
    // version 1 of the state still reflects only the first batch
    assert(state.read(1).select(sum("__cnt_n")).head().getLong(0) == 1L)
    assert(state.read(2).select(sum("__cnt_n")).head().getLong(0) == 2L)
  }

  test("a refreshed view reloads by path and serves through the catalog") {
    import spark.implicits._
    val (srcDir, viewDir) = dirs()
    val src = VersionedTable(spark, srcDir)
    val mv = mk(srcDir, viewDir)
    src.append(Seq(("a", 1L), ("b", 2L)).toDF("grp", "v"))
    mv.refresh()
    // by-path reload sees the same finalized rows
    val loaded = MaterializedView.load(spark, viewDir)
    assert(viewRows(loaded) == viewRows(mv))
    // catalog source: stale read from committed state, refresh option
    val cat = new graft.sources.Catalog(spark)
    src.append(Seq(("a", 9L)).toDF("grp", "v"))
    assert(cat.read("mview", viewDir).count() == 2) // stale by contract
    val fresh = cat.read("mview", viewDir, Map("refresh" -> "true"))
    assert(fresh.where(col("grp") === "a").head().getLong(1) == 2L)
    // SQL over a registered mview
    cat.register("mv_sql_t", "mview", viewDir)
    assert(spark.sql("SELECT sum(n) FROM mv_sql_t").head().getLong(0) == 3L)
    // a conflicting definition against the same state dir is rejected
    val bad = MaterializedView(spark, viewDir, srcDir, Seq("grp"),
      Seq(MvAgg.Count("other_name")))
    intercept[IllegalArgumentException] { bad.refresh() }
  }

  test("randomized op sequences: view ≡ full recompute whatever the history") {
    import spark.implicits._
    // three trials of a random append/delete/overwrite/restore/refresh
    // interleaving: the view must equal the direct aggregate after a
    // final refresh, whichever mix of delta and fallback paths the
    // history forced (restore rewinds content under the view's feet —
    // the harshest rewriting-commit case)
    (1 to 3).foreach { trial =>
      val rnd = new scala.util.Random(100 + trial)
      val (srcDir, viewDir) = dirs()
      val src = VersionedTable(spark, srcDir)
      val mv = mk(srcDir, viewDir)
      var nextId = 0L
      def batch(n: Int) = {
        val rows = Seq.fill(n) {
          nextId += 1
          (s"g${rnd.nextInt(4)}", nextId, rnd.nextInt(1000).toLong)
        }
        rows.toDF("grp", "id", "v")
      }
      src.append(batch(20).select("grp", "v"))
      (1 to 8).foreach { _ =>
        rnd.nextInt(5) match {
          case 0 => src.append(batch(10).select("grp", "v")); ()
          case 1 => // delete a value slice (rewrites files → fallback path)
            src.delete(Seq(rnd.nextInt(1000).toLong).toDF("v"), "v"); ()
          case 2 => // overwrite with a filtered snapshot (also rewriting)
            src.overwrite(src.read().where(col("v") =!= rnd.nextInt(1000).toLong)); ()
          case 3 => // roll back to a random live version
            src.restore(1 + rnd.nextInt(src.currentVersion)); ()
          case 4 => mv.refresh(); ()
        }
      }
      mv.refresh()
      assert(viewRows(mv) == fullAgg(src.read()),
        s"trial $trial: view diverged from direct aggregate")
    }
  }

  test("subtractable view folds the change feed — snapshot untouched") {
    import spark.implicits._
    val (srcDir, viewDir) = dirs()
    val src = VersionedTable(spark, srcDir)
    src.enableCdf()
    // count/sum/avg only: every aggregate subtractable → delta path
    val mv = MaterializedView(spark, viewDir, srcDir, Seq("grp"),
      Seq(MvAgg.Count("n"), MvAgg.Sum("v", "total"), MvAgg.Avg("v", "mean")))
    src.append(Seq(("a", 1L, 1L), ("a", 2L, 3L), ("b", 3L, 10L), ("c", 4L, 5L))
      .toDF("grp", "id", "v"))
    mv.refresh()
    val before = src.fileList(src.currentVersion).toSet
    src.merge(Seq(("a", 2L, 30L)).toDF("grp", "id", "v"), "id") // a's 3 → 30
    src.delete(Seq(3L).toDF("id"), "id") // b's only row gone → group b vanishes
    // PROOF the refresh used the feed, not a recompute: remove the
    // rewritten snapshot data files — only change files and the old
    // state remain readable, so an O(base) recompute would throw
    (src.fileList(src.currentVersion).toSet -- before).foreach { rel =>
      Files.delete(java.nio.file.Paths.get(srcDir, rel))
    }
    mv.refresh()
    val got = mv.read().collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == Set(("a", 2L, 31L, 15.5), ("c", 1L, 5L, 5.0)))
  }

  test("min/max definitions fall back to recompute under deletes — still exact") {
    import spark.implicits._
    val (srcDir, viewDir) = dirs()
    val src = VersionedTable(spark, srcDir)
    src.enableCdf() // tracked — but min/max must NOT take the signed path
    val mv = mk(srcDir, viewDir)
    src.append(Seq(("a", 1L), ("a", 9L), ("b", 10L)).toDF("grp", "v"))
    mv.refresh()
    // deleting the current max of group a: only a recompute can find
    // the runner-up (signed state can't), and the result must show it
    src.delete(Seq(9L).toDF("v"), "v")
    mv.refresh()
    assert(viewRows(mv) == fullAgg(src.read()))
    assert(mv.read().where(col("grp") === "a").head().getAs[Long]("hi") == 1L)
  }

  test("pre-liveness state (no __rows) migrates via one recompute") {
    import spark.implicits._
    val (srcDir, viewDir) = dirs()
    val src = VersionedTable(spark, srcDir)
    val mv = mk(srcDir, viewDir)
    src.append(Seq(("a", 1L), ("b", 2L)).toDF("grp", "v"))
    mv.refresh()
    // simulate a state table written before the liveness column existed
    val state = VersionedTable(spark, viewDir)
    state.overwrite(state.read().drop("__rows"))
    src.append(Seq(("a", 8L)).toDF("grp", "v"))
    mv.refresh()
    assert(viewRows(mv) == fullAgg(src.read()))
    // the migrated state carries __rows again → delta path works next time
    assert(state.read().columns.contains("__rows"))
  }

  test("a view follows a BRANCH source; merged/dropped branch fails the refresh loudly") {
    import spark.implicits._
    val (srcDir, viewDir) = dirs()
    val src = VersionedTable(spark, srcDir)
    src.enableCdf()
    src.append(Seq(("a", 1L), ("b", 2L)).toDF("grp", "v"))
    val br = src.createBranch("cur")
    br.append(Seq(("a", 10L)).toDF("grp", "v"))
    val mv = MaterializedView(spark, viewDir, br.dir,
      Seq("grp"), Seq(MvAgg.Count("n"), MvAgg.Sum("v", "total")))
    mv.refresh()
    def rows = mv.read().collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows == Set(("a", 2L, 11L), ("b", 1L, 2L)))
    // the parent moving must NOT leak into the branch-following view
    src.append(Seq(("c", 99L)).toDF("grp", "v"))
    br.append(Seq(("b", 20L)).toDF("grp", "v"))
    mv.refresh()
    assert(rows == Set(("a", 2L, 11L), ("b", 2L, 22L)))
    // merge-with-drop removes the branch: the last state still reads,
    // and the next refresh names the branch as the reason
    src.mergeBranch("cur", key = "grp", force = true, dropAfter = true)
    assert(rows == Set(("a", 2L, 11L), ("b", 2L, 22L)))
    val e = intercept[IllegalStateException] { mv.refresh() }
    assert(e.getMessage.contains("branch"), e.getMessage)
  }

  test("a dropped-and-recreated branch reads as a NEW lineage: refresh refuses on the identity pin") {
    import spark.implicits._
    val (srcDir, viewDir) = dirs()
    val src = VersionedTable(spark, srcDir)
    src.enableCdf()
    src.append(Seq(("a", 1L), ("b", 2L)).toDF("grp", "v"))
    val br = src.createBranch("cur")
    br.append(Seq(("a", 10L)).toDF("grp", "v"))
    val mv = MaterializedView(spark, viewDir, br.dir,
      Seq("grp"), Seq(MvAgg.Count("n"), MvAgg.Sum("v", "total")))
    mv.refresh()
    // drop + re-create the SAME branch name: same directory, but a
    // different fork — a history that happens to satisfy the covered
    // version arithmetic must NOT resume (coverage is dir-keyed; the
    // pinned fork stamp in _mv_def.json is what catches this)
    val stampBefore = br.incarnationStamp(1) // capture BEFORE the drop (same dir)
    src.dropBranch("cur")
    // no sleep: the fork commit carries a random nonce, so even a
    // same-millisecond re-create reads as a different incarnation
    val br2 = src.createBranch("cur")
    assert(br2.incarnationStamp(1) != stampBefore,
      "re-created fork must never share the dropped fork's incarnation stamp")
    br2.append(Seq(("z", 99L)).toDF("grp", "v"))
    val e = intercept[IllegalStateException] { mv.refresh() }
    assert(e.getMessage.contains("re-created") &&
      e.getMessage.contains("cur"), e.getMessage)
    // the last refreshed state still reads (stale, but never wrong)
    assert(mv.read().collect().map(r => (r.getString(0), r.getLong(2))).toSet ==
      Set(("a", 11L), ("b", 2L)))
    // a reloaded-by-path handle honors the same pin
    val e2 = intercept[IllegalStateException] {
      MaterializedView.load(spark, viewDir).refresh()
    }
    assert(e2.getMessage.contains("re-created"), e2.getMessage)
  }

  test("SQL: CREATE MV over FROM t BRANCH 'b'; frozen pins refuse with CTAS guidance") {
    import spark.implicits._
    val (srcDir, viewDir) = dirs()
    val src = VersionedTable(spark, srcDir)
    src.enableCdf()
    src.append(Seq(("a", 1L), ("b", 2L)).toDF("grp", "v"))
    src.createBranch("work")
    src.branch("work").append(Seq(("a", 5L)).toDF("grp", "v"))
    src.createTag("pin1")
    src.scan().createOrReplaceTempView("mvbr_src_t")
    val svc = new graft.service.QueryService(spark)
    svc.sql(s"CREATE MATERIALIZED VIEW mvbr_v LOCATION '$viewDir' AS " +
      "SELECT grp, count(*) AS n, sum(v) AS total " +
      "FROM mvbr_src_t BRANCH 'work' GROUP BY grp").collect()
    val got = MaterializedView.load(spark, viewDir).read().collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(("a", 2L, 6L), ("b", 1L, 2L)))
    // a tag or numeric pin never changes — refuse at CREATE with the
    // CTAS guidance, not wrongly at refresh
    val et = intercept[Exception] {
      svc.sql(s"CREATE MATERIALIZED VIEW mvbr_v2 LOCATION '${viewDir}2' AS " +
        "SELECT grp, count(*) AS n FROM mvbr_src_t VERSION AS OF 'pin1' " +
        "GROUP BY grp").collect()
    }
    assert(et.getMessage.contains("CREATE TABLE"), et.getMessage)
    val en = intercept[Exception] {
      svc.sql(s"CREATE MATERIALIZED VIEW mvbr_v3 LOCATION '${viewDir}3' AS " +
        "SELECT grp, count(*) AS n FROM mvbr_src_t VERSION AS OF 1 " +
        "GROUP BY grp").collect()
    }
    assert(en.getMessage.contains("CREATE TABLE"), en.getMessage)
    // an unknown branch names the live roster
    val eb = intercept[Exception] {
      svc.sql(s"CREATE MATERIALIZED VIEW mvbr_v4 LOCATION '${viewDir}4' AS " +
        "SELECT grp, count(*) AS n FROM mvbr_src_t BRANCH 'nope' " +
        "GROUP BY grp").collect()
    }
    assert(eb.getMessage.contains("work"), eb.getMessage)
  }

  test("holistic aggregates and bad specs are rejected at construction") {
    val (srcDir, viewDir) = dirs()
    intercept[IllegalArgumentException] {
      MaterializedView(spark, viewDir, srcDir, Seq.empty, Seq(MvAgg.Count("n")))
    }
    intercept[IllegalArgumentException] {
      MaterializedView(spark, viewDir, srcDir, Seq("grp"), Seq.empty)
    }
    intercept[IllegalArgumentException] {
      MaterializedView(spark, viewDir, srcDir, Seq("grp"),
        Seq(MvAgg.Count("n"), MvAgg.Sum("v", "n")))
    }
  }
}
