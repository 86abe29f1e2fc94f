package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.sources.VersionedTable

/** The lazy vtable scan (VTableRelation + VTableScanRule): filters
  * written ANYWHERE above the scan — DataFrame DSL, SQL over a temp
  * view — must collapse into the stats-pruned file scan, with result
  * equality to the eager read as the invariant.
  */
class VTableScanSpec extends SparkSpecBase {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-vscan").toString + "/t"

  /** Parquet scans of the FINAL physical plan — descends through AQE
    * wrappers (AdaptiveSparkPlanExec / query stages), whose scans a
    * plain treewalk never sees. Materializes first so the adaptive
    * plan is final.
    */
  private def scans(df: DataFrame): Seq[FileSourceScanExec] = {
    df.collect()
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def go(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => go(a.executedPlan)
      case q: QueryStageExec        => go(q.plan)
      case f: FileSourceScanExec    => Seq(f)
      case other => (other.children ++ other.subqueries).flatMap(go)
    }
    go(df.queryExecution.executedPlan)
  }

  /** Files the physical plan actually opens (post-pruning). */
  private def scanFiles(df: DataFrame): Int =
    scans(df).map(_.relation.location.inputFiles.length).sum

  /** Leaf columns the parquet scan reads (column-pruning witness). */
  private def scanColumns(df: DataFrame): Seq[String] =
    scans(df).flatMap(_.requiredSchema.fieldNames.toSeq)

  /** Six single-file appends with disjoint id ranges [i*100, i*100+19]. */
  private def sixFiles(): VersionedTable = {
    import spark.implicits._
    val t = VersionedTable(spark, tmp())
    (0 until 6).foreach(i => t.append(
      Seq.tabulate(20)(j => ((i * 100 + j).toLong, s"r$i-$j")).toDF("id", "name").coalesce(1)))
    t
  }

  test("DataFrame filter over the lazy scan prunes files, result matches eager read") {
    val t = sixFiles()
    val lzy = t.scan().where(col("id").between(100L, 219L))
    val eager = t.read().where(col("id").between(100L, 219L))
    assert(lzy.collect().map(_.getLong(0)).toSet ==
      eager.collect().map(_.getLong(0)).toSet)
    assert(scanFiles(lzy) == 2, s"expected 2 of 6 files, opened ${scanFiles(lzy)}")
  }

  test("bare lazy scan falls back to the full snapshot read") {
    val t = sixFiles()
    assert(t.scan().count() == 120)
    assert(scanFiles(t.scan()) == 6)
  }

  test("filter through SQL over a temp view still prunes") {
    val t = sixFiles()
    t.scan().createOrReplaceTempView("__graft_vscan_spec")
    val point = spark.sql(
      "SELECT name FROM __graft_vscan_spec WHERE id = 305")
    assert(point.collect().map(_.getString(0)).toSeq == Seq("r3-5"))
    assert(scanFiles(point) == 1, s"point lookup opened ${scanFiles(point)} files")
    // column pruning survives the rewrite: the scan reads only what
    // the query needs, not the marker's full width
    val cols = scanColumns(point)
    assert(cols.toSet == Set("id", "name") || cols.toSet == Set("name", "id"),
      s"scan read $cols")
    val narrow = spark.sql(
      "SELECT count(*) AS n FROM __graft_vscan_spec WHERE id < 100")
    assert(narrow.head().getLong(0) == 20)
    assert(scanColumns(narrow) == Seq("id"), s"scan read ${scanColumns(narrow)}")
  }

  test("no-match predicate opens zero files and returns the schema") {
    val t = sixFiles()
    val none = t.scan().where(col("id") > 10000L)
    assert(none.count() == 0)
    assert(scanFiles(none) == 0)
    assert(none.columns.toSeq == Seq("id", "name"))
  }

  test("two filtered scans of one table compose (self-union, distinct instances)") {
    val t = sixFiles()
    val a = t.scan().where(col("id") < 100L)
    val b = t.scan().where(col("id") >= 500L)
    assert(a.union(b).count() == 40)
  }

  test("version pins at scan creation — later commits don't leak in") {
    import spark.implicits._
    val t = sixFiles()
    val pinned = t.scan()
    t.append(Seq((9999L, "late")).toDF("id", "name").coalesce(1))
    assert(pinned.count() == 120)
    assert(pinned.where(col("id") === 9999L).count() == 0)
    assert(t.scan().count() == 121)
  }

  test("COUNT(*) answers from manifest row counts without opening any file") {
    import spark.implicits._
    val t = sixFiles()
    t.scan().createOrReplaceTempView("__graft_vscan_cnt")
    val cnt = spark.sql("SELECT count(*) AS n FROM __graft_vscan_cnt")
    assert(cnt.head().getLong(0) == 120)
    assert(scans(cnt).isEmpty, "metadata count must not plan a file scan")
    // a filtered count is NOT metadata-answerable — it must scan (the
    // pruned files) and still be exact
    val filtered = spark.sql(
      "SELECT count(*) AS n FROM __graft_vscan_cnt WHERE id < 100")
    assert(filtered.head().getLong(0) == 20)
    assert(scans(filtered).nonEmpty)
    // version pinning: the metadata count moves with new commits only
    // through a NEW scan
    val pinned = t.scan()
    t.append(Seq((7777L, "x"), (7778L, "y")).toDF("id", "name").coalesce(1))
    assert(pinned.groupBy().count().head().getLong(0) == 120)
    val fresh = t.scan().groupBy().count()
    assert(fresh.head().getLong(0) == 122)
    assert(scans(fresh).isEmpty)
    // copy-on-write rewrites keep the counts exact
    t.delete(Seq(0L, 1L, 7777L).toDF("id"), "id")
    assert(t.scan().groupBy().count().head().getLong(0) == 119)
  }

  test("MIN/MAX of stats-covered numeric columns answer from the manifest") {
    val t = sixFiles()
    t.scan().createOrReplaceTempView("__graft_vscan_mm")
    val mm = spark.sql(
      "SELECT min(id) AS lo, max(id) AS hi, count(*) AS n FROM __graft_vscan_mm")
    val row = mm.head()
    assert(row.getLong(0) == 0 && row.getLong(1) == 519 && row.getLong(2) == 120)
    assert(scans(mm).isEmpty, "metadata min/max must not plan a file scan")
    // a STRING column's min/max must scan (truncated stats are bounds,
    // not values) — and still be correct
    val sm = spark.sql(
      "SELECT min(name) AS lo FROM __graft_vscan_mm")
    assert(sm.head().getString(0) == "r0-0")
    assert(scans(sm).nonEmpty)
    // min/max mixed with a non-answerable aggregate falls through whole
    val mixed = spark.sql(
      "SELECT min(id) AS lo, sum(id) AS s FROM __graft_vscan_mm")
    assert(mixed.head().getLong(0) == 0)
    assert(scans(mixed).nonEmpty)
  }

  test("COUNT(col) answers from non-null stats counts, null-exact") {
    import spark.implicits._
    val t = VersionedTable(spark, tmp())
    t.append(Seq((Option(1L), "a"), (Option(2L), "b")).toDF("id", "name").coalesce(1))
    t.append(Seq((Option(10L), "c"), (Option.empty[Long], "n")).toDF("id", "name").coalesce(1))
    t.scan().createOrReplaceTempView("__graft_vscan_nn")
    val q = spark.sql(
      "SELECT count(*) AS n, count(id) AS n_id, count(name) AS n_nm FROM __graft_vscan_nn")
    val row = q.head()
    assert(row.getLong(0) == 4 && row.getLong(1) == 3 && row.getLong(2) == 4)
    assert(scans(q).isEmpty, "COUNT(col) should answer from the manifest")
  }

  test("Catalog-registered vtable view prunes through plain SQL (service path)") {
    val t = sixFiles()
    val cat = new graft.sources.Catalog(spark)
    cat.register("__graft_vscan_reg", "vtable", t.dir)
    val q = spark.sql(
      "SELECT count(*) AS n FROM __graft_vscan_reg WHERE id BETWEEN 300 AND 419")
    assert(q.head().getLong(0) == 40)
    assert(scanFiles(q) == 2, s"registered view opened ${scanFiles(q)} files")
    // eager opt-out keeps the old inspectable behavior
    val eager = cat.read("vtable", t.dir, Map("lazy" -> "false"))
    assert(eager.inputFiles.length == 6)
  }

  test("dynamic file pruning: a small dim's key bounds prune the fact scan") {
    import spark.implicits._
    val t = sixFiles()
    // dim keys live entirely inside file 3's range [300, 319]
    val dim = Seq((305L, "x"), (310L, "y"), (317L, "z")).toDF("k", "tag")
    val joined = t.scan().join(dim, col("id") === col("k"))
    val rows = joined.collect()
    assert(rows.length == 3)
    assert(scanFiles(joined) == 1,
      s"DFP should open 1 of 6 files, opened ${scanFiles(joined)}")
    // result identical to the eager join
    val eager = t.read().join(dim, col("id") === col("k")).collect()
    assert(rows.map(_.getLong(0)).sorted.sameElements(eager.map(_.getLong(0)).sorted))
    // an existing filter on the fact composes with the derived range
    val filtered = t.scan().where(col("name").isNotNull)
      .join(dim, col("id") === col("k"))
    assert(filtered.count() == 3)
    assert(scanFiles(filtered) == 1)
    // outer joins must NOT prune (unmatched fact rows survive)
    val outer = t.scan().join(dim, col("id") === col("k"), "left")
    assert(outer.count() == 120)
    // the decisive cases use a FILE-backed dim carrying NO static key
    // predicate: its bounds are discoverable only by EXECUTING it, so
    // InferFiltersFromConstraints can't pre-prune the fact and the
    // file-skipping below is attributable to DFP alone. (A
    // LocalRelation dim won't do for the negative case: the optimizer
    // materializes rand() into its rows and the final dim really is
    // deterministic.)
    val dimDir = java.nio.file.Files.createTempDirectory("graft-dfp").toString + "/dim"
    dim.coalesce(1).write.parquet(dimDir)
    val fileDim = spark.read.parquet(dimDir)
    val viaFile = t.scan().join(fileDim, col("id") === col("k"))
    assert(viaFile.count() == 3)
    // fact pruned to 1 by executed bounds + the dim's own 1 file
    assert(scanFiles(viaFile) == 2,
      s"DFP via executed bounds should open 1+1 files, saw ${scanFiles(viaFile)}")
    // LEFT SEMI (EXISTS) prunes the left the same way — only matching
    // left rows are output
    val semi = t.scan().join(fileDim, col("id") === col("k"), "left_semi")
    assert(semi.count() == 3)
    assert(scanFiles(semi) == 2,
      s"semi-join DFP should open 1+1 files, saw ${scanFiles(semi)}")
    // the SQL spelling — WHERE id IN (subquery) — rewrites to the same
    // semi join and must prune identically
    t.scan().createOrReplaceTempView("__graft_dfp_fact")
    fileDim.createOrReplaceTempView("__graft_dfp_keys")
    val inSub = spark.sql(
      "SELECT count(*) AS n FROM __graft_dfp_fact WHERE id IN (SELECT k FROM __graft_dfp_keys)")
    assert(inSub.head().getLong(0) == 3)
    assert(scanFiles(inSub) == 2,
      s"IN-subquery DFP should open 1+1 files, saw ${scanFiles(inSub)}")
    // a non-deterministic dim must not prune (bounds would come from a
    // different draw than the join's own execution)
    val rndDim = fileDim.withColumn("noise", rand(7))
    val viaRnd = t.scan().join(rndDim, col("id") === col("k"))
    assert(viaRnd.count() == 3)
    // fact unpruned (6) + dim (1); an unsound prune would show 1 + 1
    assert(scanFiles(viaRnd) == 7,
      s"non-deterministic dim should leave the fact unpruned, saw ${scanFiles(viaRnd)}")
  }

  test("IN-set DFP: a sparse dim prunes point-exact where the band admits everything") {
    import spark.implicits._
    val t = sixFiles()
    // keys 5 and 505 straddle the whole table: the [min,max] band
    // [5,505] intersects every file's range, but the literal IN-set
    // admits exactly files 0 and 5. File-backed dim with no static
    // predicate, so the keys are discoverable only by executing it.
    val dimDir = java.nio.file.Files.createTempDirectory("graft-dfp-in").toString + "/dim"
    Seq((5L, "a"), (505L, "b")).toDF("k", "tag").coalesce(1).write.parquet(dimDir)
    val sparse = spark.read.parquet(dimDir)
    val joined = t.scan().join(sparse, col("id") === col("k"))
    assert(joined.count() == 2)
    assert(scanFiles(joined) == 3, // 2 fact files + 1 dim file
      s"IN-set DFP should open 2+1 files, opened ${scanFiles(joined)}")
    // result identical to the eager join
    val eager = t.read().join(sparse, col("id") === col("k"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(joined.collect().map(_.getLong(0)).sorted.toSeq == eager)
  }

  test("DFP refuses dims that are not snapshot-stable sources") {
    import spark.implicits._
    val t = sixFiles()
    // a cached dim reads from an InMemoryRelation leaf — re-readable
    // storage the stability allowlist refuses (conservative: the
    // cache could be evicted and recomputed between the optimizer's
    // key-set job and the join's own execution)
    val dimDir = java.nio.file.Files.createTempDirectory("graft-dfp-st").toString + "/dim"
    Seq((305L, "x")).toDF("k", "tag").coalesce(1).write.parquet(dimDir)
    val cached = spark.read.parquet(dimDir).cache()
    try {
      val joined = t.scan().join(cached, col("id") === col("k"))
      assert(joined.count() == 1)
      // fact unpruned: all 6 files open (dim scan served from cache)
      assert(scanFiles(joined) >= 6,
        s"non-stable dim must leave the fact unpruned, saw ${scanFiles(joined)}")
    } finally { cached.unpersist(); () }
  }

  test("readWhere with isin prunes via point-set skipping") {
    val t = sixFiles()
    val q = t.readWhere(col("id").isin(7L, 307L))
    assert(q.collect().map(_.getLong(0)).sorted.toSeq == Seq(7L, 307L))
    assert(scanFiles(q) == 2, s"isin should open 2 of 6 files, opened ${scanFiles(q)}")
    // SQL spelling over the lazy scan
    t.scan().createOrReplaceTempView("__graft_vscan_in")
    val sql = spark.sql(
      "SELECT count(*) AS n FROM __graft_vscan_in WHERE id IN (7, 307, 9999)")
    assert(sql.head().getLong(0) == 2)
    assert(scanFiles(sql) == 2, s"SQL IN opened ${scanFiles(sql)} files")
  }

  test("appendClustered: files born range-clustered skip from the first commit") {
    import spark.implicits._
    val t = VersionedTable(spark, tmp())
    // one UNSORTED batch; clustering happens inside the append's shuffle
    val shuffled = new scala.util.Random(7).shuffle((0L until 600L).toList)
    t.appendClustered(shuffled.map(i => (i, s"r$i")).toDF("id", "name"),
      Seq("id"), files = 6)
    assert(t.fileList(t.currentVersion).size == 6)
    val point = t.scan().where(col("id").between(100L, 199L))
    assert(point.count() == 100)
    // disjoint ranges → a 1/6 band opens ~1 file, never all 6
    assert(scanFiles(point) <= 2,
      s"clustered ingest should skip most files, opened ${scanFiles(point)}")
  }

  test("randomized DFP equivalence: scan-join == eager-join for arbitrary key sets") {
    import spark.implicits._
    val t = sixFiles()
    val dimDir = java.nio.file.Files.createTempDirectory("graft-dfp-prop").toString
    val rnd = new scala.util.Random(42)
    (1 to 8).foreach { i =>
      // random key sets: some inside the domain, some straddling file
      // boundaries, some entirely outside, some empty
      val n = 1 + rnd.nextInt(11)
      val keys = Seq.fill(n)(rnd.nextLong().abs % 800L)
      val kd = s"$dimDir/k$i"
      keys.map(k => (k, s"t$k")).toDF("k", "tag").coalesce(1).write.parquet(kd)
      val dim = spark.read.parquet(kd)
      val viaScan = t.scan().join(dim, col("id") === col("k"))
        .select("id", "tag").collect().map(_.toString).sorted.toSeq
      val viaEager = t.read().join(dim, col("id") === col("k"))
        .select("id", "tag").collect().map(_.toString).sorted.toSeq
      assert(viaScan == viaEager, s"iteration $i: keys=$keys")
      val semiScan = t.scan().join(dim, col("id") === col("k"), "left_semi")
        .collect().map(_.getLong(0)).sorted.toSeq
      val semiEager = t.read().join(dim, col("id") === col("k"), "left_semi")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(semiScan == semiEager, s"iteration $i semi: keys=$keys")
    }
  }

  private def withConf(pairs: (String, String)*)(body: => Unit): Unit = {
    val olds = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Output column names of the INNERMOST join of the optimized plan
    * — which pair of tables the optimizer chose to join first. (The
    * tables themselves are parquet scans by then: the join-inferred
    * isnotnull filters expand the markers, so identify sides by their
    * distinguishing columns.)
    */
  private def innermostJoinCols(df: DataFrame): Set[String] = {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val lp = df.queryExecution.optimizedPlan
    val inner = lp.collect { case j: Join => j }
      .filter(j => !j.children.exists(_.exists(_.isInstanceOf[Join])))
    assert(inner.nonEmpty, s"no innermost join in:\n$lp")
    inner.head.children.flatMap(_.output.map(_.name)).toSet
  }

  test("CBO: manifest rowCount + NDV stats reorder a 3-way join, results equal") {
    import spark.implicits._
    // fact: 10k rows, k1 has 100 distinct values, k2 has 1000.
    // d1: 5 keys of k1 (selective). d2: all 1000 keys of k2 (not).
    // Written order joins fact⋈d2 FIRST — a 10k-row intermediate;
    // fact⋈d1 first is a 500-row intermediate. With CBO fed by the
    // markers' exact rowCount and sidecar NDV of the keys, join
    // reorder must discover that; with CBO off the written order
    // stands. This is the payoff test for commit-log statistics: the
    // numbers change the PLAN, not just decorate explain output.
    val base = java.nio.file.Files.createTempDirectory("graft-cbo").toString
    def table(name: String, ndvCols: Seq[String], df: DataFrame): VersionedTable = {
      val t = VersionedTable(spark, s"$base/$name")
      t.enableNdv(ndvCols)
      t.append(df.coalesce(1))
      t
    }
    val fact = table("fact", Seq("k1", "k2"),
      spark.range(10000).select(
        (col("id") % 100).as("k1"), (col("id") % 1000).as("k2"),
        col("id").as("payload")))
    val d1 = table("d1", Seq("k1"),
      spark.range(5).select(col("id").as("k1"), (col("id") * 7).as("w1")))
    val d2 = table("d2", Seq("k2"),
      spark.range(1000).select(col("id").as("k2"), (col("id") * 3).as("w2")))
    def query(): DataFrame = {
      val f = fact.scan(); val a = d1.scan(); val b = d2.scan()
      f.join(b, f("k2") === b("k2")).join(a, f("k1") === a("k1"))
        .select(f("payload"), a("w1"), b("w2"))
    }
    // broadcast threshold off: keeps DFP's marker expansion out of the
    // optimized plan so the join tree stays marker-leaved + inspectable
    val noBcast = "spark.sql.autoBroadcastJoinThreshold" -> "-1"
    var cboRows: Array[Long] = null
    var offRows: Array[Long] = null
    withConf("spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true", noBcast) {
      val q = query()
      val cols = innermostJoinCols(q)
      assert(cols.contains("w1") && !cols.contains("w2"),
        s"CBO should join the selective dim (w1) first, got $cols")
      cboRows = q.collect().map(r => r.getLong(0) * 31 + r.getLong(1) * 7 + r.getLong(2))
    }
    withConf("spark.sql.cbo.enabled" -> "false", noBcast) {
      val q = query()
      val cols = innermostJoinCols(q)
      assert(cols.contains("w2") && !cols.contains("w1"),
        s"without CBO the written order (w2 first) should stand, got $cols")
      offRows = q.collect().map(r => r.getLong(0) * 31 + r.getLong(1) * 7 + r.getLong(2))
    }
    assert(cboRows.sorted.toSeq == offRows.sorted.toSeq,
      "join reorder must not change results")
    assert(cboRows.length == 500)
  }

  test("OR predicates prune files when every branch is boundable") {
    val t = sixFiles()
    // two point branches in different files: 2 of 6 open
    val either = t.readWhere(col("id") === 5L || col("id") === 305L)
    assert(either.collect().map(_.getLong(0)).sorted.toSeq == Seq(5L, 305L))
    assert(scanFiles(either) == 2, s"OR of points opened ${scanFiles(either)}")
    // range OR range, straddling
    val ranges = t.readWhere(col("id") < 20L || col("id") >= 500L)
    assert(ranges.count() == 40)
    assert(scanFiles(ranges) == 2, s"OR of ranges opened ${scanFiles(ranges)}")
    // an unboundable branch disables the OR (sound), result unchanged
    val opaque = t.readWhere(col("id") < 20L || col("id") % 7 === 3L)
    assert(opaque.collect().map(_.getLong(0)).sorted.toSeq ==
      t.read().where(col("id") < 20L || col("id") % 7 === 3L)
        .collect().map(_.getLong(0)).sorted.toSeq)
    assert(scanFiles(opaque) == 6)
    // OR nested under AND composes with the conjunct's own pruning
    val nested = t.readWhere((col("id") === 5L || col("id") === 305L) &&
      col("name").isNotNull)
    assert(nested.count() == 2)
    assert(scanFiles(nested) == 2)
    // the SQL spelling through the lazy scan prunes identically
    t.scan().createOrReplaceTempView("__graft_vscan_or")
    val sql = spark.sql(
      "SELECT count(*) AS n FROM __graft_vscan_or WHERE id = 5 OR id = 305")
    assert(sql.head().getLong(0) == 2)
    assert(scanFiles(sql) == 2, s"SQL OR opened ${scanFiles(sql)}")
  }

  test("unrecognized conjunct shapes keep the recognized ones pruning") {
    val t = sixFiles()
    val odd = t.scan().where(col("id") % 2 === 1 && col("id") < 100L)
    assert(odd.collect().map(_.getLong(0)).forall(id => id % 2 == 1 && id < 100))
    assert(scanFiles(odd) == 1, "the recognized conjunct should still prune")
  }

  test("warming tskip_fixture leaves no temp dir the JVM will not delete") {
    // Temp dirs are deleted by the exit hooks registered for them. The
    // shared test JVM outlives this test, so run exactly the hooks the
    // warm-up registers, then require every graft-tskip-keys* dir it
    // created to be gone. A fresh session keys a private fixture, so
    // deleting its dirs early cannot disturb any other test.
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def keyDirs(): Set[String] = Option(tmp.list()).toSet.flatten
      .filter(_.startsWith("graft-tskip-keys"))
    val hooksCls = Class.forName("java.lang.ApplicationShutdownHooks")
    val hooksField = hooksCls.getDeclaredField("hooks")
    hooksField.setAccessible(true)
    def hooks(): Set[Thread] = hooksCls.synchronized {
      import scala.jdk.CollectionConverters._
      hooksField.get(null).asInstanceOf[java.util.Map[Thread, Thread]]
        .keySet.asScala.toSet
    }
    val session = spark.newSession() // Spark's own exit hooks predate hooks0
    val (dirs0, hooks0) = (keyDirs(), hooks())
    SparkEntry.indexWarmups("tskip_fixture")(session, TestSpark.sfDir)
    val created = keyDirs() -- dirs0
    assert(created.nonEmpty, "the warm-up built no key table")
    (hooks() -- hooks0).collect { case h: scala.sys.ShutdownHookThread => h }.foreach(_.run())
    val leaked = keyDirs() intersect created
    assert(leaked.isEmpty, s"no exit cleanup registered for $leaked")
  }
}
