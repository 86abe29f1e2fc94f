package graft.service

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

/** INFORMATION_SCHEMA catalog views over plain SQL — the introspection
  * surface BI tooling expects from a SQL service: any client that can
  * POST a SELECT can now discover what is queryable
  * (`information_schema.tables`) and each table's shape
  * (`information_schema.columns`) without a proprietary endpoint.
  *
  * ZERO-SCAN by construction: both views are built from session
  * catalog state — registered names from the [[CatalogRegistry]],
  * schemas from each view's ANALYZED plan (for the Catalog's default
  * vtable registration that is the committed-manifest schema on the
  * [[graft.plans.VTableRelation]] marker) — no data file is opened to
  * answer a catalog query, which at 100 TB is the difference between
  * a dashboard's table picker loading instantly and it launching a
  * cluster job.
  *
  * Mechanics: Spark's session catalog has no writable
  * `information_schema` database, so [[prepare]] REFRESHES two backing
  * temp views and rewrites `information_schema.tables|columns`
  * references (outside string/backtick literals — a quoted literal is
  * data, not a table reference) to them at statement time. Refresh-on-
  * reference keeps the views trivially consistent with the catalog —
  * a registration in one statement is visible to the next, with no
  * invalidation protocol. The per-statement cost is a catalog listing
  * plus one LocalRelation per view: O(session tables), no Spark job.
  */
object InfoSchema {

  private val TablesView = "__graft_info_tables"
  private val ColumnsView = "__graft_info_columns"
  private val ViewsView = "__graft_info_views"
  private val ConstraintsView = "__graft_info_constraints"

  // (?<![\w.]): a LONGER qualified name (somecat.information_schema.tables)
  // is not OUR schema — rewriting its tail would turn a clean
  // resolution error into a reference to a different table. SQL also
  // allows whitespace around qualifier dots ("somecat . information_
  // schema.tables"), so a second (bounded) lookbehind rejects a dot
  // any reasonable run of whitespace back — symmetric with the
  // pattern's own \s*\.\s* tolerance.
  // table_constraints FIRST in the alternation: `tables` must not
  // shadow its prefix
  private val Ref =
    java.util.regex.Pattern.compile(
      "(?i)(?<![\\w.])(?<!\\.[\\s]{0,64})information_schema\\s*\\.\\s*" +
        "(table_constraints|tables|columns|views)\\b")

  /** Rewrite info-schema references in the segments of `q` that lie
    * OUTSIDE single-quoted strings, double-quoted strings, and
    * backtick identifiers; None when nothing referenced.
    * `backslashEscapes` mirrors the session's string-literal dialect
    * (Spark's default processes `\'`; with
    * `spark.sql.parser.escapedStringLiterals=true` a backslash is a
    * literal character) — the scanner must end a string exactly where
    * the parser does, or a literal's tail gets rewritten as SQL / a
    * real reference hides inside a phantom span.
    */
  private[graft] def rewrite(q: String,
      backslashEscapes: Boolean = true): Option[String] = {
    // end index (exclusive) of the quoted span opening at `i`
    def spanEnd(i: Int): Int = {
      val c = q.charAt(i)
      var j = i + 1
      while (j < q.length) {
        val cj = q.charAt(j)
        if (backslashEscapes && c != '`' && cj == '\\' && j + 1 < q.length)
          j += 2 // escaped char (incl. \' and \\) stays inside the span
        else if (cj == c) {
          // a doubled quote escapes itself and stays inside
          if (j + 1 < q.length && q.charAt(j + 1) == c) j += 2
          else return j + 1
        } else j += 1
      }
      q.length // unterminated literal: the parser will reject it anyway
    }
    val out = new StringBuilder(q.length)
    var changed = false
    var i = 0
    while (i < q.length) {
      val c = q.charAt(i)
      if (c == '\'' || c == '"' || c == '`') {
        val end = spanEnd(i)
        out.append(q.substring(i, end))
        i = end
      } else {
        val next = Seq(q.indexOf('\'', i), q.indexOf('"', i), q.indexOf('`', i))
          .filter(_ >= 0).sorted.headOption.getOrElse(q.length)
        val seg = q.substring(i, next)
        val m = Ref.matcher(seg)
        val sb = new StringBuffer()
        while (m.find()) {
          changed = true
          m.appendReplacement(sb, m.group(1).toLowerCase match {
            case "tables"            => TablesView
            case "views"             => ViewsView
            case "table_constraints" => ConstraintsView
            case _                   => ColumnsView
          })
        }
        m.appendTail(sb)
        out.append(sb)
        i = next
      }
    }
    if (changed) Some(out.toString) else None
  }

  /** Statement-time hook: when `query` references the info schema,
    * refresh the backing views from the live catalog and return the
    * rewritten text; the untouched statement otherwise.
    */
  def prepare(svc: QueryService, query: String): String =
    rewrite(query, backslashEscapes = !svc.spark.conf
        .get("spark.sql.parser.escapedStringLiterals", "false").toBoolean) match {
      case None => query
      // the constraints view costs a manifest read + an extra analysis
      // per registered vtable — built only when the statement actually
      // references it, so the tables/columns hot path stays
      // catalog-state-only
      case Some(q) => refresh(svc, withConstraints = q.contains(ConstraintsView)); q
    }

  /** Rebuild both backing views from the session catalog. Table kind
    * comes from the registry (a registered SOURCE is what a BI client
    * calls a base table; a submitted or SQL-created view is a VIEW);
    * schemas come from each name's analyzed plan — catalog state, not
    * data. The backing views themselves are excluded.
    */
  def refresh(svc: QueryService, withConstraints: Boolean = true): Unit = {
    val spark = svc.spark
    val entries = svc.catalogEntries
    val kinds = entries.map(e => e.name -> e.kind).toMap
    val names = spark.catalog.listTables().collect().map(_.name)
      .filterNot(n => n == TablesView || n == ColumnsView || n == ViewsView ||
        n == ConstraintsView)
      .sorted.toSeq
    val tableRows = names.map { n =>
      Row("graft", n, kinds.get(n) match {
        case Some("source") => "BASE TABLE"
        case _              => "VIEW"
      })
    }
    val colRows = names.flatMap { n =>
      spark.table(n).schema.fields.zipWithIndex.map { case (f, i) =>
        // timestamp flavors normalize to one label: the micros/nanos +
        // tz-adjustment vintage of a parquet file is a storage detail
        // a catalog consumer doesn't key on (and it keeps the oracle
        // comparison vintage-proof)
        val dt = f.dataType.catalogString match {
          case t if t.startsWith("timestamp") => "timestamp"
          case t                              => t
        }
        Row(n, f.name, i + 1, dt, if (f.nullable) "YES" else "NO")
      }
    }
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(tableRows.asJava, StructType(Seq(
        StructField("table_catalog", StringType, nullable = false),
        StructField("table_name", StringType, nullable = false),
        StructField("table_type", StringType, nullable = false))))
      .createOrReplaceTempView(TablesView)
    spark.createDataFrame(colRows.asJava, StructType(Seq(
        StructField("table_name", StringType, nullable = false),
        StructField("column_name", StringType, nullable = false),
        StructField("ordinal_position", IntegerType, nullable = false),
        StructField("data_type", StringType, nullable = false),
        StructField("is_nullable", StringType, nullable = false))))
      .createOrReplaceTempView(ColumnsView)
    // information_schema.views: each submitted view's recorded SQL —
    // how BI tooling shows a view's definition (sources have none)
    val viewRows = entries.filter(e => e.kind == "view" &&
        names.contains(e.name))
      .map(e => Row("graft", e.name, e.query))
    spark.createDataFrame(viewRows.asJava, StructType(Seq(
        StructField("table_catalog", StringType, nullable = false),
        StructField("table_name", StringType, nullable = false),
        StructField("view_definition", StringType, nullable = false))))
      .createOrReplaceTempView(ViewsView)
    // information_schema.table_constraints: CHECK/UNIQUE rows from each
    // registered vtable's manifest constraint node (the BI-tooling twin
    // of DESCRIBE DETAIL's flat constraints column) — zero-scan, one
    // manifest read per vtable, nothing for plain sources/views. Built
    // only when referenced (see [[prepare]]): the per-vtable resolution
    // re-analyzes every name, which the tables/columns path must not pay
    if (!withConstraints) return
    val consRows = names.flatMap { n =>
      SqlDml.resolveVTable(spark, n).toSeq.flatMap { dir =>
        graft.sources.VersionedTable(spark, dir).constraintList.map {
          case (cn, spec) =>
            val isUq = spec.startsWith(graft.sources.VersionedTable.UniquePrefix)
            Row("graft", n, cn,
              if (isUq) "UNIQUE" else "CHECK",
              if (isUq) spec.stripPrefix(graft.sources.VersionedTable.UniquePrefix)
              else spec)
        }
      }
    }
    spark.createDataFrame(consRows.asJava, StructType(Seq(
        StructField("table_catalog", StringType, nullable = false),
        StructField("table_name", StringType, nullable = false),
        StructField("constraint_name", StringType, nullable = false),
        StructField("constraint_type", StringType, nullable = false),
        StructField("definition", StringType, nullable = false))))
      .createOrReplaceTempView(ConstraintsView)
  }

  // ---- contract query ------------------------------------------------

  /** Contract query — a fresh isolated service registers the standard
    * parquet tables and introspects itself through plain SQL, exactly
    * the statement a BI client would send. DuckDB-oracled against ITS
    * OWN information_schema over the same parquet views, with the two
    * engines' type names mapped to Spark's catalogString spelling
    * (events is left unregistered: its timestamp vintage is the one
    * schema the corpora don't pin).
    */
  def qInfoSchema(t: graft.sources.Tables): org.apache.spark.sql.DataFrame = {
    val svc = new QueryService(t.spark.newSession())
    InfoNames.foreach(n =>
      svc.registerSource(n, "parquet", s"${t.sfDir}/$n.parquet"))
    // table_type is exercised by the join + filter but NOT in the
    // compared output: what is a registered source here is a parquet
    // VIEW in the oracle's engine, so the label is engine-relative
    svc.sql(
      s"""SELECT t.table_name, c.column_name,
         |       c.ordinal_position AS ordinal, c.data_type, c.is_nullable
         |FROM information_schema.columns c
         |JOIN information_schema.tables t ON c.table_name = t.table_name
         |WHERE t.table_name IN ($InfoNamesSql)
         |  AND t.table_type = 'BASE TABLE'
         |ORDER BY t.table_name, ordinal""".stripMargin)
  }

  /** Sibling contract query — constraint discovery over plain SQL
    * (`information_schema.table_constraints`): a fresh isolated
    * service registers a vtable carrying one CHECK and one UNIQUE
    * constraint and reads them back through the statement a BI client
    * would send. The oracle is the literal roster: the fixture's
    * constraints are fixed by construction, so any drift in the
    * manifest encoding, the UNIQUE/CHECK classification, or the
    * rewrite surface diverges the hash.
    */
  private val consFixture = new graft.util.CorpusMemo[QueryService]()

  /** The fixture — an isolated service with a registered vtable
    * carrying one CHECK and one UNIQUE constraint — memoized per
    * (session, corpus) like the SQL-DML demos: the three commits are
    * a one-time corpus cost (Bench bills them under index_build as
    * `infocons_fixture`); the timed query measures the
    * info-schema SELECT a BI client pays per statement, not tempdir
    * table construction. Verify still runs build+read together.
    */
  private[graft] def consService(t: graft.sources.Tables): QueryService =
    consFixture.getOrBuild(t) {
      import org.apache.spark.sql.functions.col
      val s2 = t.spark.newSession()
      val svc = new QueryService(s2)
      val parent = graft.util.TempDirs.createWithCleanup("graft-infocons")
      val dir = parent + "/t"
      val vt = graft.sources.VersionedTable(s2, dir)
      vt.append(s2.read.parquet(s"${t.sfDir}/region.parquet")
        .select(col("r_regionkey").as("k"), col("r_name").as("name")))
      vt.addConstraint("k_nonneg", "k >= 0")
      vt.addUniqueConstraint("k_uq", Seq("k"))
      svc.registerSource("cons_t", "vtable", dir)
      svc
    }

  def qConstraintsSchema(t: graft.sources.Tables): org.apache.spark.sql.DataFrame =
    consService(t).sql(
      """SELECT table_name, constraint_name, constraint_type, definition
        |FROM information_schema.table_constraints
        |WHERE table_name = 'cons_t'
        |ORDER BY constraint_name""".stripMargin)

  val InfoNames: Seq[String] = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "documents", "embeddings")

  val InfoNamesSql: String = InfoNames.map(n => s"'$n'").mkString(", ")
}
