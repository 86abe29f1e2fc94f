package graft.service

import org.apache.spark.sql.DataFrame

/** Large-result EXPORT: lower a statement's result into a versioned
  * table instead of collecting it to the driver.
  *
  * POST /sql serves driver-cached, server-capped pages — correct for
  * dashboards, wrong for a 10^6-row dedup drop manifest or a full
  * profile export, which must never live in driver memory at all. The
  * scale-correct route already exists in the SQL surface (`CREATE
  * TABLE … USING vtable LOCATION … AS query`); [[exportTo]] makes it a
  * first-class verb: the result lands DISTRIBUTED (executor-side
  * parquet write committed as vtable v1), the name registers for paged
  * read-back through the pruned lazy scan, and the caller gets the
  * handle plus an O(metadata) row count — never the rows. At 100 TB
  * the driver ships ~100 bytes per export regardless of result size.
  *
  * Identifier/location validation here is the injection boundary: the
  * HTTP layer splices both into statement text, so the name must be a
  * bare identifier and the location an absolute quote-free path.
  */
object Export {

  private val NameRe = "^[A-Za-z_][A-Za-z0-9_]{0,127}$".r

  /** Run `query` and land its full result as a fresh vtable at
    * `location`, registered as `name`. Returns (committed version,
    * row count) — the count answered from the commit manifest's
    * metadata aggregate, no data file re-opened.
    */
  def exportTo(svc: QueryService, name: String, location: String,
      query: String): (Int, Long) = {
    require(NameRe.matches(name),
      s"export name must be a bare identifier ([A-Za-z_][A-Za-z0-9_]*), got '$name'")
    // no quotes (would close the SQL literal), no backslashes (Spark's
    // default string-literal dialect processes escapes, silently
    // re-pointing the path), no control characters
    require(location.startsWith("/") &&
      !location.exists(c => c == '\'' || c == '\\' || c < ' '),
      s"export location must be an absolute path without quotes, " +
        s"backslashes, or control characters, got '$location'")
    val v = svc.sql(
        s"CREATE TABLE `$name` USING vtable LOCATION '$location' AS $query")
      .collect().head.getAs[Number]("version").intValue()
    // count(*) over the registered vtable view resolves from manifest
    // row counts (the metadata-aggregate rule) — O(1) jobs, O(files)
    // metadata, zero data pages
    val rows = svc.sql(s"SELECT count(*) AS n FROM `$name`")
      .collect().head.getAs[Long]("n")
    (v, rows)
  }
}

/** Contract query for the export path (`q_export_roundtrip`): an
  * over-page-cap result (one row per order — 15k rows at sf0.01) is
  * EXPORTED through [[Export.exportTo]] into a temp vtable, then the
  * landed table is read back in full through the registered view's
  * pruned lazy scan. The DuckDB oracle replays the DIRECT query, so
  * the gate hashes the landed bytes against the answer the export was
  * supposed to persist — CTAS lowering, the vtable commit, and the
  * read-back scan all sit under one hash. Columns are exact integers
  * (quantities are integral in the corpus), keeping the gate
  * rounding-free. Memoized per (session, corpus) like the other
  * service fixtures.
  */
object ExportDemo {

  private val built = new graft.util.CorpusMemo[String]()

  /** Returns the registered view name of the exported table. */
  private[graft] def builtExport(t: graft.sources.Tables): String =
    built.getOrBuild(t) {
      val parent = graft.util.TempDirs.createWithCleanup("graft-export")
      val suffix = s"${System.identityHashCode(t.spark)}_" +
        t.sfDir.replaceAll("[^A-Za-z0-9]", "_")
      val src = s"__graft_export_src_$suffix"
      val name = s"__graft_export_$suffix"
      t.lineitem.createOrReplaceTempView(src)
      val (v, rows) = Export.exportTo(new QueryService(t.spark), name,
        s"$parent/exported",
        s"""SELECT l_orderkey,
           |  CAST(sum(l_quantity) AS BIGINT) AS qty,
           |  count(*) AS n_items
           |FROM `$src` GROUP BY l_orderkey""".stripMargin)
      require(v == 1 && rows > 0, s"export landed v$v with $rows rows")
      name
    }

  def qExportRoundtrip(t: graft.sources.Tables): DataFrame = {
    val name = builtExport(t)
    new QueryService(t.spark).sql(
      s"SELECT l_orderkey, qty, n_items FROM `$name` ORDER BY l_orderkey")
  }
}
